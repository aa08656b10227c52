"""The driver read of ``graph_local.bounded_arrow``: a bare local parquet
scan is read with pyarrow on the driver, firing no Spark job, and must
give the table the Spark probe ``df.limit(T+1).toArrow()`` gives (same
Arrow schema, same rows as a multiset).  Every other frame, and every
scan the driver read cannot match exactly, must fall back to the probe:
one job, the same table."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hazelcast_jet_spark.operators import dedup, graph, graph_local
from hazelcast_jet_spark.sources import read_files

T = 1_000
EDGES = [(i, (i * 7) % 23) for i in range(40)] + [(3, 3), (5, 20), (5, 20)]


def _jobs_fired(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _collect(spark, df, group):
    out = []
    n = _jobs_fired(
        spark, lambda: out.append(graph_local.bounded_arrow(df, T)), group)
    return out[0], n


def _rows(tbl):
    return sorted(zip(*tbl.to_pydict().values()),
                  key=lambda r: tuple((x is None, x) for x in r))


def _assert_same(tbl, df):
    probe = df.limit(T + 1).toArrow()
    assert tbl.schema == probe.schema
    assert _rows(tbl) == _rows(probe) and tbl.num_rows > 0


def _write(path, columns):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), str(path))
    return str(path)


def _edges_file(tmp_path, name="edges.parquet"):
    src, dst = zip(*EDGES)
    return _write(tmp_path / name, {"src": pa.array(src, pa.int64()),
                                    "dst": pa.array(dst, pa.int64())})


def _single_file(spark, tmp_path):
    return read_files(spark, _edges_file(tmp_path))


def _spark_directory(spark, tmp_path):
    path = tmp_path / "spark-written"
    spark.createDataFrame(EDGES, "src long, dst long").repartition(3) \
        .write.parquet(str(path))
    # the driver read must pass over these: only data files are input
    names = [p.name for p in path.iterdir()]
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    return spark.read.parquet(str(path))


def _caller_schema(spark, tmp_path):
    return read_files(spark, _edges_file(tmp_path),
                      schema="dst long, src long")


def _alias_projection(spark, tmp_path):
    df = read_files(spark, _edges_file(tmp_path))
    return df.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"),
                     "src")


def _space_in_path(spark, tmp_path):
    return read_files(spark, _edges_file(tmp_path / "a dir", "e 1.parquet"))


@pytest.mark.parametrize("make", [
    _single_file, _spark_directory, _caller_schema, _alias_projection,
    _space_in_path])
def test_driver_read_equals_probe(spark, tmp_path, make):
    df = make(spark, tmp_path)
    tbl, jobs = _collect(spark, df, f"driver-read-{make.__name__}")
    assert jobs == 0
    _assert_same(tbl, df)


def _partitioned(spark, tmp_path):
    path = str(tmp_path / "partitioned")
    spark.createDataFrame([(s, d, s % 2) for s, d in EDGES],
                          "src long, dst long, part int") \
        .write.partitionBy("part").parquet(path)
    # the data columns alone: their rows are the same multiset, so only
    # the partition check keeps the driver read off
    return read_files(spark, path).select("src", "dst")


def _filtered(spark, tmp_path):
    return read_files(spark, _edges_file(tmp_path)).filter("src >= 0")


def _csv(spark, tmp_path):
    path = str(tmp_path / "edges.csv")
    spark.createDataFrame(EDGES, "src long, dst long").write.csv(path)
    return spark.read.schema("src long, dst long").csv(path)


def _int32_file(spark, tmp_path):
    src, dst = zip(*EDGES)
    path = _write(tmp_path / "int32.parquet",
                  {"src": pa.array(src, pa.int32()),
                   "dst": pa.array(dst, pa.int32())})
    return read_files(spark, path, schema="src long, dst long")


def _case_differs(spark, tmp_path):
    return read_files(spark, _edges_file(tmp_path),
                      schema="SRC long, dst long")


def _cast(spark, tmp_path):
    return read_files(spark, _edges_file(tmp_path)).select(
        F.col("src").cast("int"), "dst")


def _metadata_column(spark, tmp_path):
    return read_files(spark, _edges_file(tmp_path)).select(
        "src", "_metadata.file_size")


@pytest.mark.parametrize("make", [
    _partitioned, _filtered, _csv, _int32_file, _case_differs, _cast,
    _metadata_column])
def test_probe_fallback(spark, tmp_path, make):
    df = make(spark, tmp_path)
    assert graph_local.driver_arrow(df, T) is graph_local.NOT_LOCAL
    tbl, jobs = _collect(spark, df, f"probe-fallback-{make.__name__}")
    assert jobs == 1
    _assert_same(tbl, df)


def test_nanos_as_long_falls_back(spark, tmp_path):
    """A TIMESTAMP(NANOS) column read as ``bigint`` (the
    ``nanosAsLong`` conf) holds the same number in another Arrow type."""
    path = _write(tmp_path / "nanos.parquet", {
        "src": pa.array([10 ** 18 + i for i in range(5)], pa.timestamp("ns")),
        "dst": pa.array(range(5), pa.int64())})
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "true")
    try:
        df = spark.read.parquet(path)
        assert dict(df.dtypes)["src"] == "bigint"
        assert graph_local.driver_arrow(df, T) is graph_local.NOT_LOCAL
        tbl, jobs = _collect(spark, df, "probe-fallback-nanos")
        assert jobs == 1
        _assert_same(tbl, df)
    finally:
        spark.conf.unset(key)


def test_field_id_read_falls_back(spark, tmp_path):
    df = _single_file(spark, tmp_path)
    key = "spark.sql.parquet.fieldId.read.enabled"
    spark.conf.set(key, "true")
    try:
        assert graph_local.driver_arrow(df, T) is graph_local.NOT_LOCAL
    finally:
        spark.conf.unset(key)
    assert graph_local.driver_arrow(df, T) is not graph_local.NOT_LOCAL


def test_footer_count_above_bound_declines_without_a_job(spark, tmp_path):
    df = _spark_directory(spark, tmp_path)
    n = len(EDGES)
    tbl, jobs = _collect(spark, df, "driver-read-bound")
    assert jobs == 0 and tbl.num_rows == n
    out = []
    jobs = _jobs_fired(
        spark, lambda: out.append(graph_local.bounded_arrow(df, n - 1)),
        "driver-read-above-bound")
    assert out == [None] and jobs == 0


def _spy(monkeypatch, module, name):
    calls = []
    real = getattr(module, name)

    def wrapped(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(module, name, wrapped)
    return calls


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_file_backed_threshold_boundary(spark, tmp_path, monkeypatch):
    """pagerank over a file: at T = the row count the driver read runs
    the replay with no job; at T − 1 the footers decline, again with no
    job, and the distributed loop gives the same rows."""
    df = _single_file(spark, tmp_path)
    calls = _spy(monkeypatch, graph_local, "pagerank_local")
    results = []
    for t in (len(EDGES), len(EDGES) - 1):
        monkeypatch.setattr(graph_local, "GRAPH_COLLECT_THRESHOLD", t)
        out = []
        jobs = _jobs_fired(
            spark, lambda: out.append(graph_local.collect_int_edges(df)),
            f"file-boundary-{t}")
        assert jobs == 0
        results.append(_sorted_rows(graph.pagerank(df, iters=3)))
        assert (out[0] is None) == (t < len(EDGES))
    assert len(calls) == 1
    assert results[0] == results[1] and len(results[0]) > 0


def test_wcc_file_backed_threshold_boundary(spark, tmp_path, monkeypatch):
    """wcc over a file holding self-loops and a NULL row: the driver
    read takes the raw rows up to T = their count; below it wcc probes
    its self-loop-free frame in Spark, which still fits down to T = the
    rows that frame keeps; one below that the distributed loop runs.
    All four give the same rows."""
    rows = EDGES + [(None, 7)]
    src, dst = zip(*rows)
    df = read_files(spark, _write(tmp_path / "wcc.parquet", {
        "src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())}))
    raw = len(rows)
    kept = sum(1 for s, d in rows if s is not None and s != d)
    assert kept < raw - 1
    calls = _spy(monkeypatch, graph_local, "min_root_components")
    seen = []
    for t, jobs, small in ((raw, 0, True), (raw - 1, 1, True),
                           (kept, 1, True), (kept - 1, None, False)):
        monkeypatch.setattr(dedup, "_PAIRS_COLLECT_THRESHOLD", t)
        before, out = len(calls), []
        n = _jobs_fired(spark, lambda: out.append(graph.wcc(df)),
                        f"wcc-file-boundary-{t}")
        if jobs is not None:
            assert n == jobs
        assert (len(calls) > before) == small
        seen.append(_sorted_rows(out[0]))
    assert all(s == seen[0] for s in seen) and len(seen[0]) > 0
