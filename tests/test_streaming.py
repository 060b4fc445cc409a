"""Streaming-semantics tests (SURVEY §5.2/§5.4): equivalence, idempotent
delivery, multi-query topology, producer partition property, text
reconstitution, watermark late-data handling."""

from __future__ import annotations

import os
import shutil
import sqlite3
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkstreaming_spark.operators.relational import split_segments
from sparkstreaming_spark.sinks.upsert import UpsertSink
from sparkstreaming_spark.sources.batch import read_table
from sparkstreaming_spark.streaming.pipeline import (
    StreamingAggSpec,
    await_all,
    run_available_now,
    start_kpi_queries,
)
from sparkstreaming_spark.streaming.producer import produce_segments
from sparkstreaming_spark.streaming.reconstitution import reconstitute_text
from tests.conftest import SF_DIR_SMOKE


def _orders_stream(spark, sf_dir):
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )


def test_multi_query_concurrency(spark):
    """The reference's 5-concurrent-query topology (T6): N specs over one
    source, each upserting its own table; all results must match batch."""
    tmp = tempfile.mkdtemp()
    db = os.path.join(tmp, "kpi.db")
    specs = [
        StreamingAggSpec(
            "by_status", ["o_orderstatus"], lambda: [F.count(F.lit(1)).alias("cnt")]
        ),
        StreamingAggSpec(
            "by_priority", ["o_orderpriority"], lambda: [F.count(F.lit(1)).alias("cnt")]
        ),
    ]
    con = sqlite3.connect(db)
    for s in specs:
        con.execute(
            f"CREATE TABLE {s.name} ({s.group_cols[0]} TEXT PRIMARY KEY, cnt INTEGER)"
        )
    con.commit()
    con.close()

    def sink_factory(spec):
        return UpsertSink(
            connect=lambda: sqlite3.connect(db),
            table=spec.name,
            key_cols=spec.group_cols,
            val_cols=["cnt"],
        )

    try:
        queries = start_kpi_queries(
            _orders_stream(spark, SF_DIR_SMOKE),
            specs,
            sink_factory,
            checkpoint_base=os.path.join(tmp, "ckpt"),
            trigger_available_now=True,
        )
        await_all(queries, timeout_sec=300)

        batch = read_table(spark, SF_DIR_SMOKE, "orders")
        con = sqlite3.connect(db)
        for spec in specs:
            got = dict(con.execute(f"SELECT * FROM {spec.name}").fetchall())
            want = {
                r[0]: r[1]
                for r in batch.groupBy(spec.group_cols[0]).count().collect()
            }
            assert got == want, f"{spec.name}: {got} != {want}"
        con.close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_upsert_idempotent(spark):
    """Replaying the same batch must not change the table (the delivery
    guarantee the reference relies on implicitly, T7)."""
    db = os.path.join(tempfile.mkdtemp(), "i.db")
    sink = UpsertSink(
        connect=lambda: sqlite3.connect(db),
        table="t",
        key_cols=["k"],
        val_cols=["v"],
    )
    con = sqlite3.connect(db)
    con.execute(sink.create_table_sql({"k": "TEXT", "v": "INTEGER"}))
    con.commit()
    con.close()
    batch = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    sink(batch, 0)
    sink(batch, 0)  # replay
    con = sqlite3.connect(db)
    assert sorted(con.execute("SELECT k, v FROM t").fetchall()) == [("a", 1), ("b", 2)]
    con.close()


def test_producer_segments_partition_input(spark):
    """Segments are an exact partition of the input — the property the
    reference's off-by-one violates (Producer.scala:31-37)."""
    orders = read_table(spark, SF_DIR_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    seg = split_segments(orders, "o_orderkey", 100)
    sizes = [r.cnt for r in seg.groupBy("segment").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy("segment").collect()]
    total = orders.count()
    assert sum(sizes) == total
    assert all(s == 100 for s in sizes[:-1]) and 0 < sizes[-1] <= 100
    # no duplicated or dropped keys
    assert seg.select("o_orderkey").distinct().count() == total


def test_reconstitution_end_to_end(spark, tmp_path):
    """Text segments → cleaned, segment-ordered single output file
    (FileReconstitution semantics minus the races)."""
    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "segment_2.txt").write_text("World!!\nB-line.\n")
    (watch / "segment_1.txt").write_text("Hello, Harry.\nA-line?\n")
    out = tmp_path / "out.txt"
    q = reconstitute_text(
        spark, str(watch), str(out), checkpoint_base=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    lines = out.read_text().strip().split("\n")
    assert lines == ["hello harry", "aline", "world", "bline"]


def test_watermark_drops_late_data(spark, tmp_path):
    """withWatermark + append-mode window: rows later than the watermark
    delay are dropped once the watermark passes (T4 — absent in the
    reference, mandatory at scale)."""
    import time

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [("2024-01-01 10:%02d:00" % m, 1.0) for m in range(0, 30, 5)]
    spark.createDataFrame(rows1, "ts_s string, v double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "batch1"))
    time.sleep(1.2)  # distinct mtimes → deterministic file-source batch order
    # watermark propagation lags one batch, so an intermediate batch lets
    # the batch1-derived watermark take effect before the late row arrives
    spark.createDataFrame(
        [("2024-01-01 10:30:00", 1.0)], "ts_s string, v double"
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "batch2"))
    time.sleep(1.2)
    late = [("2024-01-01 08:00:00", 100.0)]  # 2h late vs 10-min watermark
    spark.createDataFrame(late, "ts_s string, v double").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "batch3"))

    stream = (
        spark.readStream.schema("ts_s string, v double")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts_s"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.sum("v").alias("sv"))
    )
    result = run_available_now(stream, output_mode="append",
                               checkpoint_base=str(tmp_path / "ck"))
    values = {r.sv for r in result.collect()}
    assert 100.0 not in values, "late row leaked past the watermark"


def test_append_text_file_guards_oversized_batch(spark, tmp_path):
    """The reconstitution sink is single-file/driver-bound by contract;
    a batch above max_rows must fail loudly, not OOM the driver."""
    import pytest

    from sparkstreaming_spark.sinks.files import append_text_file

    df = spark.range(100).selectExpr("cast(id as string) AS line")
    out = str(tmp_path / "out.txt")
    with pytest.raises(ValueError, match="driver-bound"):
        append_text_file(df, out, max_rows=10)
    append_text_file(df, out, max_rows=100)
    with open(out) as fh:
        assert len(fh.read().splitlines()) == 100


def _default_ckpt_base(monkeypatch, tmp_path) -> str:
    """Point the default checkpoint base (under the temp dir) at tmp_path."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return os.path.join(str(tmp_path), "sparkstreaming_ckpt")


def test_run_available_now_timeout_raises(spark, tmp_path, monkeypatch):
    """A drain still running at its timeout is stopped and raises; it
    never returns the partial memory table, and its checkpoint dir is
    removed on this error path too."""
    import time

    base = _default_ckpt_base(monkeypatch, tmp_path)
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)

    def slow(batches):
        for pdf in batches:
            time.sleep(5)
            yield pdf

    stream = spark.readStream.schema("id bigint").parquet(src)
    with pytest.raises(TimeoutError):
        run_available_now(
            stream,
            lambda df: df.mapInPandas(slow, "id bigint"),
            output_mode="append",
            query_name="timeout_probe",
            timeout_sec=0.05,
        )
    assert all(q.name != "timeout_probe" for q in spark.streams.active)
    assert os.listdir(base) == []


def test_run_available_now_removes_own_checkpoint(spark, tmp_path, monkeypatch):
    """A drain that makes its own checkpoint dir deletes it once the query
    stops; the returned memory table stays readable."""
    base = _default_ckpt_base(monkeypatch, tmp_path)
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    out = run_available_now(
        spark.readStream.schema("id bigint").parquet(src),
        lambda df: df.agg(F.sum("id").alias("s")),
    )
    assert os.listdir(base) == []
    assert out.collect()[0].s == 45
