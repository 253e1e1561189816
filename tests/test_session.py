"""Session-level setup that a repeated registry call must not pay again:
the parquet schema cache of ``load_table`` and the generated-class cache
size set by ``get_spark``."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from local_vectordb_spark.session import load_table


def _job_count(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, the
    number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"session-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_schema_once_per_fingerprint(spark, sf_dir, tmp_path):
    """The first load of a file runs Spark's footer-inference job; a
    second load of the unchanged file runs none. Rewriting the file
    (new size, mtime and an added column) makes the next load infer the
    new schema. A nanosecond events.ts is floored to a microsecond
    TIMESTAMP on a miss and on a hit."""
    d = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), d)
    ns = [1_700_000_000_123_456_789, 1_700_000_001_999_999_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        os.path.join(d, "events.parquet"),
    )

    for name in ("documents", "events"):
        first, miss_jobs = _job_count(spark, lambda: load_table(spark, d, name))
        again, hit_jobs = _job_count(spark, lambda: load_table(spark, d, name))
        assert miss_jobs >= 1, name
        assert hit_jobs == 0, name
        assert again.schema == first.schema
        assert again.collect() == first.collect()
    for df in (first, again):
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        micros = df.orderBy("event_id").select(F.unix_micros("ts"))
        assert [r[0] for r in micros.collect()] == [x // 1000 for x in ns]

    path = os.path.join(d, "documents.parquet")
    before = os.stat(path)
    t = pq.read_table(path)
    t = t.append_column("extra", pa.array(range(t.num_rows), pa.int64()))
    os.remove(path)
    pq.write_table(t, path)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000_000))
    after = os.stat(path)
    assert after.st_size != before.st_size
    assert after.st_mtime_ns != before.st_mtime_ns
    df, jobs = _job_count(spark, lambda: load_table(spark, d, "documents"))
    assert jobs >= 1
    assert "extra" in df.columns
    assert df.agg(F.sum("extra")).first()[0] == t.num_rows * (t.num_rows - 1) // 2


def test_load_table_returns_fresh_relation_for_self_join(spark, sf_dir):
    """Two loads of one table are distinct relations, so a self-join
    resolves both sides (the count is the parent's, 500 choose 2)."""
    a = load_table(spark, sf_dir, "documents").alias("a")
    b = load_table(spark, sf_dir, "documents").alias("b")
    assert a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).count() == 124750


def test_codegen_cache_holds_a_curate_pass(spark, sf_dir):
    """A repeated pass of the four curate steps, each written to the
    noop sink and collected, compiles no generated class again: the
    cache holds the pass's working set (~100 classes). At the default
    of 100 entries, split over four cache segments, Janino recompiled
    5-20 classes on every later pass here. The capped n-gram step now
    and then compiles a handful of fresh classes on one call (6, about
    one call in six, at any cache size), so one clean pass out of three
    is asked for."""
    from __spark_entry__ import queries

    qs = queries()
    steps = (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard_capped",
        "dedup_simhash_md5",
        "text_quality",
    )
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles_in_a_pass():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for s in steps:
            qs[s](spark, sf_dir).write.mode("overwrite").format("noop").save()
            qs[s](spark, sf_dir).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    assert compiles_in_a_pass() > 0
    assert min(compiles_in_a_pass() for _ in range(3)) == 0
