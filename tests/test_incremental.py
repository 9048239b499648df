"""Resumable chunked processing (I1/I2) + streaming windows."""

import os

import pytest
from pyspark.sql import functions as F

from geoglue_spark.streaming.incremental import (
    CheckpointManifest,
    month_partitions,
    run_incremental,
)


def test_month_partitions():
    parts, open_ = month_partitions("2019-11", "2020-02")
    assert parts == ["2019-11", "2019-12", "2020-01", "2020-02"]
    assert open_ == {"2020-02"}


def test_incremental_skip_and_reprocess_open(spark, tmp_path):
    out = str(tmp_path / "out")
    manifest = CheckpointManifest(str(tmp_path / "manifest"))
    calls: list[str] = []

    def process(p: str):
        calls.append(p)
        return spark.range(10).select(
            F.col("id"), F.lit(p).alias("tag")
        )

    parts, open_ = month_partitions("2020-01", "2020-03")
    done = run_incremental(spark, parts, process, out, manifest, open_partitions=open_)
    assert done == parts  # first run processes everything
    # second run: whole months skipped (skip_exists), open month redone (I2)
    calls.clear()
    done2 = run_incremental(spark, parts, process, out, manifest, open_partitions=open_)
    assert done2 == ["2020-03"] and calls == ["2020-03"]
    # output is replace-partition, not duplicated
    total = spark.read.parquet(out).count()
    assert total == 30
    # metrics table has rows/sec lineage (I4)
    m = manifest.metrics(spark).toPandas()
    assert set(m.partition) == set(parts)
    assert (m.rows == 10).all() and (m.rows_per_sec > 0).all()


def test_incremental_resume_after_failure(spark, tmp_path):
    out = str(tmp_path / "out2")
    manifest = CheckpointManifest(str(tmp_path / "manifest2"))
    state = {"fail": True}

    def process(p: str):
        if p == "2020-02" and state["fail"]:
            raise RuntimeError("simulated mid-job crash")
        return spark.range(5)

    parts, _ = month_partitions("2020-01", "2020-03")
    with pytest.raises(RuntimeError):
        run_incremental(spark, parts, process, out, manifest)
    # resume: January is committed and skipped; Feb+Mar run
    state["fail"] = False
    done = run_incremental(spark, parts, process, out, manifest)
    assert done == ["2020-02", "2020-03"]
    assert spark.read.parquet(out).count() == 15


def test_streaming_daily_counts(spark, tmp_path):
    """Streaming windowed agg over the events parquet == batch daily agg
    (for windows the watermark has closed)."""
    from geoglue_spark.streaming.windows import run_stream_once, streaming_daily_counts

    import shutil

    src = "/root/testdata/sf0.001/events.parquet"
    stream_dir = str(tmp_path / "stream_in")
    os.makedirs(stream_dir)
    shutil.copy(src, os.path.join(stream_dir, "part-0.parquet"))
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    agg = streaming_daily_counts(stream, "ts", keys=["event_type"])
    got = run_stream_once(agg, "daily_out").toPandas()
    batch = (
        spark.read.parquet(src)
        .groupBy(F.to_date("ts").alias("date"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .toPandas()
    )
    assert len(got) > 0
    merged = got.merge(batch, on=["date", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(got)  # every emitted window exists in batch
    assert (merged.n_s == merged.n_b).all()
    assert (abs(merged.sum_value_s - merged.sum_value_b) < 1e-6).all()


def test_incomplete_closed_month_refuses_commit(spark, tmp_path):
    """I3: a closed month whose max date is not its last day must refuse to
    commit; the open trailing month is exempt (reference cds.py:204-234)."""
    import datetime as dt

    from geoglue_spark.streaming.incremental import CheckpointManifest, run_incremental

    def process(part):
        y, m = map(int, part.split("-"))
        days = 31 if part == "2019-01" else 10  # February truncated
        rows = [(dt.datetime(y, m, d, 0), float(d)) for d in range(1, days + 1)]
        return spark.createDataFrame(rows, "time timestamp, value double")

    manifest = CheckpointManifest(str(tmp_path / "manifest"))
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="incomplete"):
        run_incremental(
            spark, ["2019-01", "2019-02"], process, out, manifest,
            open_partitions=set(), require_complete_months="time",
        )
    # January committed before the failure; February is absent
    assert manifest.committed(spark) == {"2019-01"}
    # the same truncated month marked OPEN commits fine
    done = run_incremental(
        spark, ["2019-01", "2019-02"], process, out,
        CheckpointManifest(str(tmp_path / "manifest2")),
        open_partitions={"2019-02"}, require_complete_months="time",
    )
    assert "2019-02" in done


def test_incremental_no_post_write_read(spark, tmp_path):
    """r3 verdict defect #1: the committed row count must ride the write
    job as an observed metric, NOT a re-scan of the just-written partition
    (a full second read of every commit at 100 TB). One partition ->
    exactly one job, the partition write: the manifest probe and append
    go through the Hadoop FileSystem."""
    out = str(tmp_path / "out")
    manifest = CheckpointManifest(str(tmp_path / "manifest"))

    def process(p: str):
        return spark.range(7).select(F.col("id"), F.lit(p).alias("tag"))

    sc = spark.sparkContext
    group = "no-post-write-read-probe"
    sc.setJobGroup(group, "run_incremental single partition")
    try:
        run_incremental(spark, ["2021-05"], process, out, manifest)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, f"expected the partition write only, got {len(jobs)} jobs"
    # and the observed metric recorded the true row count
    m = manifest.metrics(spark).toPandas()
    assert list(m.rows) == [7]


def test_committed_on_missing_manifest_runs_no_job(spark, tmp_path, monkeypatch):
    """A manifest that does not exist yet is probed through the FileSystem:
    an empty committed set, no Spark job and no (failing) Spark read."""
    from pyspark.sql import SparkSession

    def no_read(self):
        raise AssertionError("committed() read a missing manifest through Spark")

    manifest = CheckpointManifest(str(tmp_path / "absent"))
    sc = spark.sparkContext
    group = "missing-manifest-probe"
    sc.setJobGroup(group, "committed() on a missing manifest")
    try:
        with monkeypatch.context() as m:
            m.setattr(SparkSession, "read", property(no_read))
            assert manifest.committed(spark) == set()
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not (tmp_path / "absent").exists()


def test_record_writes_one_visible_parquet_file(spark, tmp_path):
    """record() leaves exactly one visible part file and no temp file
    behind, and Spark reads the row back with the manifest's types."""
    path = tmp_path / "manifest"
    manifest = CheckpointManifest(str(path))
    manifest.record(spark, "2021-05", 7, 2.0, lineage="src=test")
    names = sorted(os.listdir(path))
    visible = [n for n in names if not n.startswith((".", "_"))]
    assert len(visible) == 1 and visible[0].startswith("part-")
    assert visible[0].endswith(".parquet")
    assert not [n for n in names if ".tmp" in n], names
    # the file's own schema, not the one metrics() imposes on the read
    assert dict(spark.read.parquet(str(path)).dtypes) == {
        "partition": "string", "rows": "bigint", "seconds": "double",
        "rows_per_sec": "double", "lineage": "string", "committed_at": "string",
    }
    (r,) = manifest.metrics(spark).collect()
    assert (r.partition, r.rows, r.seconds, r.rows_per_sec, r.lineage) == (
        "2021-05", 7, 2.0, 3.5, "src=test",
    )
    assert r.committed_at.endswith("Z")
    assert manifest.committed(spark) == {"2021-05"}


def test_write_replace_partitions_parquet_fallback(spark, tmp_path):
    """No Iceberg catalog configured here -> parquet dynamic-overwrite path
    with replace-partition semantics (re-writing a partition replaces its
    rows instead of duplicating)."""
    from geoglue_spark.streaming.incremental import write_replace_partitions

    out = str(tmp_path / "t")
    df1 = spark.createDataFrame([("p1", 1), ("p2", 2)], "part string, v int")
    assert write_replace_partitions(df1, out) == "parquet"
    df2 = spark.createDataFrame([("p2", 99)], "part string, v int")
    assert write_replace_partitions(df2, out) == "parquet"
    got = {(r.part, r.v) for r in spark.read.parquet(out).collect()}
    assert got == {("p1", 1), ("p2", 99)}


def test_stream_ingest_partitions(spark, tmp_path):
    """Streaming face of the replace-partition store: file-source stream ->
    foreachBatch -> write_replace_partitions + manifest, idempotent across
    a second availableNow pass over the same files."""
    import json as _json

    from pyspark.sql import functions as F

    from geoglue_spark.streaming.incremental import (
        CheckpointManifest,
        stream_ingest_partitions,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2019-0{1 + i % 2}-15 00:00:00", "value": float(i)}
        for i in range(20)
    ]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows[:10]))
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in rows[10:]))

    stream = (
        spark.readStream.schema("event_id long, ts string, value double")
        .json(str(src))
    )
    out = str(tmp_path / "out")
    manifest = CheckpointManifest(str(tmp_path / "manifest"))
    q = stream_ingest_partitions(
        stream, out, manifest,
        F.date_format(F.to_timestamp("ts"), "yyyy-MM"),
        checkpoint_path=str(tmp_path / "ckpt"),
        lineage="src=test",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 20
    parts = {r.part for r in got.select("part").distinct().collect()}
    assert parts == {"2019-01", "2019-02"}
    assert manifest.committed(spark) == {"2019-01", "2019-02"}
    # re-running over the same source (fresh checkpoint = redelivery) must
    # REPLACE partitions, not duplicate rows
    q2 = stream_ingest_partitions(
        stream, out, manifest,
        F.date_format(F.to_timestamp("ts"), "yyyy-MM"),
        checkpoint_path=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 20

def test_stream_ingest_accumulates_across_batches(spark, tmp_path):
    """ADVICE r2 (high): a partition whose data spans micro-batches must
    KEEP earlier batches' rows — the (part, _batch) sub-partition layout
    accumulates across batches while staying replace-idempotent within
    one."""
    import json as _json

    from pyspark.sql import functions as F

    from geoglue_spark.streaming.incremental import (
        CheckpointManifest,
        stream_ingest_partitions,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [{"event_id": i, "ts": "2019-01-15 00:00:00", "value": float(i)} for i in range(5)]
    (src / "a.json").write_text("\n".join(_json.dumps(r) for r in rows1))
    stream_def = lambda: (
        spark.readStream.schema("event_id long, ts string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = str(tmp_path / "out")
    manifest = CheckpointManifest(str(tmp_path / "manifest"))
    ckpt = str(tmp_path / "ckpt")
    q = stream_ingest_partitions(
        stream_def(), out, manifest,
        F.date_format(F.to_timestamp("ts"), "yyyy-MM"), checkpoint_path=ckpt,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 5
    # a LATER run with the SAME checkpoint delivers new files for the SAME
    # (open) month — the old layout silently deleted the first 5 rows here
    rows2 = [{"event_id": 100 + i, "ts": "2019-01-20 00:00:00", "value": 1.0} for i in range(3)]
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in rows2))
    q2 = stream_ingest_partitions(
        stream_def(), out, manifest,
        F.date_format(F.to_timestamp("ts"), "yyyy-MM"), checkpoint_path=ckpt,
    )
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 8  # 5 + 3, nothing lost
    ids = {r.event_id for r in got.collect()}
    assert ids == set(range(5)) | {100, 101, 102}


def test_complete_month_gate_catches_interior_gap(spark, tmp_path):
    """A closed month missing interior days (10-15) but ending on the last
    day must REFUSE to commit — a max-date-only check would pass it."""
    import datetime as dt

    import pytest

    from geoglue_spark.streaming.incremental import (
        CheckpointManifest,
        run_incremental,
    )

    days = [
        dt.date(2019, 1, d) for d in range(1, 32) if not 10 <= d <= 15
    ]

    def process(p):
        return spark.createDataFrame([(d, 1.0) for d in days], "time date, value double")

    m = CheckpointManifest(str(tmp_path / "manifest"))
    with pytest.raises(ValueError, match="incomplete"):
        run_incremental(
            spark, ["2019-01"], process, str(tmp_path / "out"), m,
            open_partitions=set(), require_complete_months="time",
        )
