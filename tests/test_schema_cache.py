"""``sources.read_files``: a parquet/orc read of a local path infers its
schema once; a later read of the same files under the same session confs
and options passes the schema back and runs no job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hazelcast_jet_spark import FileSources, sources
from hazelcast_jet_spark.session import load_table


def _jobs_fired(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _read_jobs(spark, read, group):
    """(jobs fired, frame) of one ``read(spark)`` call."""
    out = []
    n = _jobs_fired(spark, lambda: out.append(read(spark)), group)
    return n, out[0]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _single_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", None]}), path)
    return path


def _directory(spark, tmp_path):
    path = str(tmp_path / "dir")
    spark.createDataFrame([(i, float(i) / 3) for i in range(30)],
                          "a long, b double").repartition(3) \
        .write.parquet(path)
    return path


def _partitioned(spark, tmp_path):
    path = str(tmp_path / "part")
    spark.createDataFrame([(i, i % 3, str(i)) for i in range(30)],
                          "id long, k int, s string") \
        .write.partitionBy("k").parquet(path)
    return path


def _orc_file(spark, tmp_path):
    path = str(tmp_path / "orc")
    spark.createDataFrame([(1, "x"), (2, None)], "a long, b string") \
        .coalesce(1).write.orc(path)
    return path


def test_second_read_fires_no_job(spark, tmp_path):
    path = _single_file(spark, tmp_path)
    read = FileSources.files(path)
    first, df1 = _read_jobs(spark, read, "schema-cache-first")
    second, df2 = _read_jobs(spark, read, "schema-cache-second")
    assert (first, second) == (1, 0)
    assert df1.schema == df2.schema and _rows(df1) == _rows(df2)


@pytest.mark.parametrize("make, fmt", [
    (_single_file, "parquet"),
    (_directory, "parquet"),
    (_partitioned, "parquet"),
    (_orc_file, "orc"),
], ids=["file", "directory", "partitioned", "orc"])
def test_cached_read_equals_fresh_read(spark, tmp_path, make, fmt):
    path = make(spark, tmp_path)
    read = FileSources.files(path, fmt)
    read(spark)  # fills the cache
    n, cached = _read_jobs(spark, read, f"schema-cache-eq-{make.__name__}")
    fresh = spark.read.format(fmt).load(path)
    assert n == 0
    assert cached.schema == fresh.schema
    assert _rows(cached) == _rows(fresh) and len(_rows(fresh)) > 0


def test_rewritten_file_infers_again(spark, tmp_path):
    path = _single_file(spark, tmp_path)
    read = FileSources.files(path)
    read(spark)
    pq.write_table(pa.table({"c": [1.5, 2.5]}), path)
    n, df = _read_jobs(spark, read, "schema-cache-rewrite")
    assert n == 1
    assert df.columns == ["c"] and _rows(df) == [(1.5,), (2.5,)]


def test_conf_flip_infers_again(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}),
                   path)
    read = FileSources.files(path)
    assert dict(read(spark).dtypes)["b"] == "binary"
    spark.conf.set(key, "true")
    try:
        n, df = _read_jobs(spark, read, "schema-cache-conf")
    finally:
        spark.conf.unset(key)
    assert n == 1
    assert dict(df.dtypes)["b"] == "string"
    assert dict(read(spark).dtypes)["b"] == "binary"


def test_options_are_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "merge")
    spark.createDataFrame([(1,)], "a long").write.parquet(f"{path}/p=1")
    spark.createDataFrame([(2, "x")], "a long, b string") \
        .write.parquet(f"{path}/p=2")
    plain = FileSources.files(path)
    merged = FileSources.files(path, mergeSchema="true")
    plain(spark)
    n, df = _read_jobs(spark, merged, "schema-cache-options")
    assert n == 1
    assert sorted(df.columns) == ["a", "b", "p"]
    assert df.schema == spark.read.option("mergeSchema", "true") \
        .parquet(path).schema


def test_uncached_reads_take_the_plain_reader(spark, tmp_path):
    path = _single_file(spark, tmp_path)
    for p, fmt in [("s3a://bucket/t.parquet", "parquet"),
                   ("hdfs:///t.parquet", "parquet"),
                   ("t.parquet", "parquet"),
                   (str(tmp_path / "*.parquet"), "parquet"),
                   (path, "json"),
                   (str(tmp_path / "missing.parquet"), "parquet")]:
        assert sources._schema_key(spark, p, fmt, {}) is None, p
    assert sources._schema_key(spark, "file://" + path, "parquet", {}) \
        == sources._schema_key(spark, path, "parquet", {})

    given = "a long, b string"
    before = len(sources._schemas)
    n, df = _read_jobs(spark, FileSources.files(path, schema=given),
                       "schema-cache-given")
    assert n == 0 and len(sources._schemas) == before
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"


def test_load_table_reads_again_without_a_job(spark, sf_dir):
    """``events`` goes through the nanos-as-long conf; its second read
    (and any other table's) infers no schema."""
    for name in ("events", "nation"):
        first = load_table(spark, sf_dir, name)
        n, again = _read_jobs(spark, lambda s: load_table(s, sf_dir, name),
                              f"schema-cache-load-{name}")
        assert n == 0
        assert again.schema == first.schema
        assert again.count() == first.count() > 0
        assert again.exceptAll(first).count() == 0
