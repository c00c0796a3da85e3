"""Reader drift tolerance, registry config loading, atomic writer."""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from data_warehouse_migration_spark.sources.readers import (
    parquet_table,
    read_csv,
    read_parquet,
)
from data_warehouse_migration_spark.sources.registry import load_source_config
from data_warehouse_migration_spark.sources.writers import (
    atomic_overwrite_parquet,
    write_parquet,
)


def test_read_parquet_declared_schema_drift(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 9.5)], "id int, name string, extra double"
    ).write.parquet(path)
    declared = StructType(
        [
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("missing_col", StringType()),  # absent in file
        ]
    )
    df = read_parquet(spark, path, declared)
    assert df.columns == ["id", "name", "missing_col"]  # extra dropped
    row = df.first()
    assert row.id == 1 and row.name == "a" and row.missing_col is None


def test_read_csv_permissive_malformed_cell(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,x\nnotanint,y\n")
    df = read_csv(spark, str(p), schema="a INT, b STRING")
    rows = {r.b: r.a for r in df.collect()}
    assert rows == {"x": 1, "y": None}  # malformed → NULL, not failure


def test_load_source_config(tmp_path):
    cfg = tmp_path / "source_config.json"
    cfg.write_text(json.dumps([
        {"sourceFile": "F0101.csv", "sinkPath": "jde/F0101",
         "description": "Address Book"},
    ]))
    entries = load_source_config(str(cfg))
    assert entries[0].source_file == "F0101.csv"
    assert entries[0].sink_path == "jde/F0101"


def test_atomic_overwrite_swaps_and_cleans(spark, tmp_path):
    path = str(tmp_path / "tbl")
    atomic_overwrite_parquet(spark.range(5), path)
    assert spark.read.parquet(path).count() == 5
    # overwrite with derived state reading the same path
    current = spark.read.parquet(path)
    atomic_overwrite_parquet(current.withColumn("x", F.lit(1)), path)
    df = spark.read.parquet(path)
    assert df.count() == 5 and "x" in df.columns
    # path is a pointer (symlink) whose flip is one atomic rename; the
    # default keeps the superseded version on disk (in-flight scans
    # that resolved the old target keep their files) — GC is
    # vacuum_versions' job, on the operator's schedule
    assert os.path.islink(path)
    live = os.path.basename(os.path.realpath(path))
    versions = sorted(d for d in os.listdir(tmp_path) if ".__v_" in d)
    assert len(versions) == 2 and live in versions
    # keep_old=False is the no-concurrent-readers fast path: the
    # superseded version (and the kept one from before) minus live
    atomic_overwrite_parquet(df.withColumn("y", F.lit(2)), path, keep_old=False)
    live2 = os.path.basename(os.path.realpath(path))
    versions2 = sorted(d for d in os.listdir(tmp_path) if ".__v_" in d)
    assert live2 in versions2 and live not in versions2


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path, sf_dir):
    """Time-partitioned bronze layout (reference: Table/Y/M/D) must
    enable partition pruning: a run-date filter shows up as a
    PartitionFilter and non-matching directories are never scanned."""
    from pyspark.sql import functions as F

    from data_warehouse_migration_spark.sources.writers import write_parquet

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "bronze_orders")
    write_parquet(orders, path, partition_by=["order_year"])

    one_year = spark.read.parquet(path).filter(F.col("order_year") == 1996)
    plan = one_year._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(order_year" in plan, plan
    expected = orders.filter(F.col("order_year") == 1996).count()
    assert one_year.count() == expected


def test_read_increment_high_watermark(spark, tmp_path):
    """Three scheduled runs over a growing table: each reads only rows
    newer than the persisted bookmark; re-running with no new data
    reads nothing and keeps the watermark."""
    import datetime as dt

    from data_warehouse_migration_spark.sources.readers import read_increment

    path = str(tmp_path / "inc")
    day = lambda d: dt.datetime(2024, 1, d)  # noqa: E731

    spark.createDataFrame(
        [(1, day(1)), (2, day(2))], "id int, ts timestamp"
    ).write.parquet(path)
    batch1, mark1 = read_increment(spark, path, "ts")
    assert {r.id for r in batch1.collect()} == {1, 2}
    assert mark1 == day(2)

    spark.createDataFrame(
        [(3, day(3)), (4, day(4))], "id int, ts timestamp"
    ).write.mode("append").parquet(path)
    batch2, mark2 = read_increment(spark, path, "ts", mark1)
    assert {r.id for r in batch2.collect()} == {3, 4}
    assert mark2 == day(4)

    batch3, mark3 = read_increment(spark, path, "ts", mark2)
    assert batch3.count() == 0
    assert mark3 == day(4)  # empty increment keeps the bookmark


def test_write_sorted_produces_disjoint_sorted_files(spark, tmp_path, sf_dir):
    import os

    from pyspark.sql import functions as F

    from data_warehouse_migration_spark.sources.writers import write_sorted

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "sorted")
    write_sorted(orders, path, ["o_orderkey"], partitions=4)

    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4
    # each file internally sorted, and file key-ranges disjoint
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f"{path}/{f}").select("o_orderkey").toPandas()
        ks = pdf["o_orderkey"].tolist()
        assert ks == sorted(ks)
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # range-partitioned → whole-file skipping
    # nothing lost
    assert spark.read.parquet(path).count() == orders.count()


def test_read_jsonl_declared_schema_drift(spark, tmp_path):
    """JSONL with a declared schema: extra fields ignored, missing
    fields null, malformed lines null out — never fail (the raw-corpus
    ingest contract)."""
    from data_warehouse_migration_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "extra": true}\n'
        '{"doc_id": 2, "text": "second"}\n'
        '{"doc_id": 3}\n'
        "not json at all\n"
    )
    df = read_jsonl(spark, str(p), "doc_id bigint, text string")
    rows = {r.doc_id: r.text for r in df.collect()}
    assert rows[1] == "hello world"
    assert rows[2] == "second"
    assert rows[3] is None
    assert None in rows  # malformed line arrives as an all-null row
    assert df.columns == ["doc_id", "text"]  # extra field pruned


def test_stage_to_parquet_rejects_second_frame_under_same_key(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8 #3: two DIFFERENT frames staged under one name+scope
    in a process must raise, not silently overwrite — the first
    consumer's lazy read-back would otherwise serve the second
    frame's data. Re-staging the SAME frame (a bench re-run) stays
    allowed."""
    from data_warehouse_migration_spark.sources import writers

    monkeypatch.setenv("SPARK_GRAFT_STAGE_DIR", str(tmp_path))
    monkeypatch.setattr(writers, "_STAGED_KEYS", {})
    a = spark.range(5).withColumnRenamed("id", "k")
    out = writers.stage_to_parquet(a, "t", scope="s1")
    assert out.count() == 5
    # identical plan: idempotent re-run
    writers.stage_to_parquet(
        spark.range(5).withColumnRenamed("id", "k"), "t", scope="s1"
    )
    with pytest.raises(ValueError, match="already staged"):
        writers.stage_to_parquet(spark.range(7), "t", scope="s1")
    # distinct scope: no clash
    writers.stage_to_parquet(spark.range(7), "t", scope="s2")


def test_stage_root_sweep_removes_only_dead_pid_dirs(tmp_path):
    """VERDICT r8 "what's wrong" #3: scratch left by a SIGKILL'd
    process is cleared at the next process's first stage use; live
    (and non-pid) siblings survive."""
    from data_warehouse_migration_spark.sources.writers import (
        _sweep_dead_stage_roots,
    )

    base = tmp_path / "stages"
    base.mkdir()
    # a pid that is certainly dead: fork+exit and reap it
    dead = os.fork()
    if dead == 0:
        os._exit(0)
    os.waitpid(dead, 0)
    # Use our OWN pid as the alive fixture, not getppid(): under a
    # daemonized runner (nohup/setsid/container pid-1) the parent is
    # init, so pid{getppid()} collides with the hardcoded pid1 dir
    # below and the test fails before asserting anything (VERDICT r9
    # "what's wrong" #1).
    (base / f"pid{dead}").mkdir()
    (base / f"pid{os.getpid()}").mkdir()  # alive: this very process
    (base / "pid1").mkdir()  # init: alive, likely unsignalable
    (base / "not_a_pid_dir").mkdir()
    _sweep_dead_stage_roots(str(base))
    assert not (base / f"pid{dead}").exists()
    assert (base / f"pid{os.getpid()}").exists()
    assert (base / "pid1").exists()
    assert (base / "not_a_pid_dir").exists()


# --- parquet_table: spark.read.parquet without the schema-inference job ---


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _write_hive(spark, path):
    write_parquet(
        spark.createDataFrame([(1, "a")], "id int, s string").withColumn(
            "ingest_date", F.lit("2024-01-02")
        ),
        path,
        partition_by=["ingest_date"],
    )


def _write_symlinked(spark, path):
    atomic_overwrite_parquet(spark.range(3), path)
    atomic_overwrite_parquet(spark.range(3).withColumn("x", F.lit("v")), path)


def _write_arrow_ntz(spark, path):
    pq.write_table(
        pa.table({"ts": pa.array([dt.datetime(2024, 1, 1, 12)], pa.timestamp("us"))}),
        path,
    )


def _write_decimal(spark, path):
    spark.createDataFrame(
        [(Decimal("12.34"),)], "m decimal(18,2)"
    ).write.parquet(path)


@pytest.mark.parametrize(
    "write, expect",
    [
        (_write_hive, ("ingest_date", "date")),
        (_write_symlinked, ("x", "string")),
        (_write_arrow_ntz, ("ts", "timestamp_ntz")),
        (_write_decimal, ("m", "decimal(18,2)")),
    ],
    ids=["hive_partitioned", "atomic_symlink", "arrow_timestamp_ntz", "decimal"],
)
def test_parquet_table_schema_matches_spark_inference(spark, tmp_path, write, expect):
    path = str(tmp_path / "t")
    write(spark, path)
    got = parquet_table(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert expect in got.dtypes
    assert got.collect() == spark.read.parquet(path).collect()


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
def test_parquet_table_rewrite_returns_new_schema(spark, tmp_path, writer):
    path = str(tmp_path / "t.parquet")
    for columns in ({"a": [1]}, {"b": ["x"], "c": [2.5]}):
        if writer == "spark":
            spark.createDataFrame(pd.DataFrame(columns)).write.mode(
                "overwrite"
            ).parquet(path)
        else:
            pq.write_table(pa.table(columns), path)
        parquet_table(spark, path)  # warm the schema cache
        assert parquet_table(spark, path).columns == list(columns)
        assert parquet_table(spark, path).schema == spark.read.parquet(path).schema


def test_parquet_table_cache_tracks_inference_confs(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    assert parquet_table(spark, path).dtypes == [("b", "binary")]
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try:
        assert parquet_table(spark, path).dtypes == [("b", "string")]
    finally:
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert parquet_table(spark, path).dtypes == [("b", "binary")]


def test_parquet_table_merges_footers_under_merge_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "a int").write.parquet(path)
    spark.createDataFrame([(2,)], "b int").write.mode("append").parquet(path)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        merged = spark.read.parquet(path).schema
        assert sorted(merged.fieldNames()) == ["a", "b"]
        assert parquet_table(spark, path).schema == merged
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_parquet_table_warm_read_launches_no_job(spark, tmp_path):
    spark_path = str(tmp_path / "spark")
    _write_hive(spark, spark_path)
    arrow_path = str(tmp_path / "arrow.parquet")
    _write_arrow_ntz(spark, arrow_path)

    before = _next_job_id(spark)
    spark.read.parquet(spark_path).schema
    assert _next_job_id(spark) - before == 1  # what the seam avoids

    parquet_table(spark, arrow_path)  # inferred once by Spark
    before = _next_job_id(spark)
    parquet_table(spark, spark_path).schema  # Spark row metadata: never a job
    parquet_table(spark, arrow_path).schema  # cached inference
    assert _next_job_id(spark) - before == 0
