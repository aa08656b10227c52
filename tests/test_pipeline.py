"""Pipeline façade tests — mirrors the reference's operator/stage
integration suites (SURVEY §5): TestSources.items + AssertionSinks over
small inputs, exact expected outputs.

Reference model: hazelcast-jet-core/src/test/java/com/hazelcast/jet/
(JetTestSupport pipelines) and benchmark/WordCountTest.java:76-135.
"""

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_spark import AggregateOperations as agg
from hazelcast_jet_spark import AssertionSinks, Pipeline, Sinks, TestSources


def test_wordcount(spark):
    """flatMap → groupingKey → counting (WordCountTest.java:129-135)."""
    lines = [("to be or not to be",), ("that is the question",)]
    p = Pipeline.create(spark)
    result = (
        p.read_from(TestSources.items(lines, "line string"))
        .flat_map(F.split("line", " "), alias="word", keep=[])
        .grouping_key("word")
        .aggregate(cnt=agg.counting())
        .write_to(Sinks.observable())
    )
    counts = {r["word"]: r["cnt"] for r in result}
    assert counts["to"] == 2 and counts["be"] == 2 and counts["question"] == 1
    assert sum(counts.values()) == 10


def test_map_filter_fusion(spark):
    p = Pipeline.create(spark)
    out = (
        p.read_from(TestSources.items([(i,) for i in range(10)], "v long"))
        .filter(F.col("v") % 2 == 0)
        .map((F.col("v") * 10).alias("v10"))
        .write_to(AssertionSinks.assert_any_order([(0,), (20,), (40,), (60,), (80,)]))
    )
    assert len(out) == 5


def test_assert_collected_batch(spark):
    """AssertionSinks.assertCollected (AssertionSinks.java:134): assert_fn
    sees the full collected list; empty input yields []; streaming input
    is rejected (batch-only per the reference)."""
    p = Pipeline.create(spark)
    p.read_from(TestSources.items([(1,), (2,), (3,)], "v long")) \
        .write_to(AssertionSinks.assert_collected(
            lambda items: (_ for _ in ()).throw(AssertionError("boom"))
            if sorted(items) != [(1,), (2,), (3,)] else None))
    import pytest as _pytest
    empty = Pipeline.create(spark).read_from(
        TestSources.items([], "v long"))
    empty.write_to(AssertionSinks.assert_collected(
        lambda items: None if items == [] else (_ for _ in ()).throw(
            AssertionError("expected empty"))))
    stream = spark.readStream.format("rate") \
        .option("rowsPerSecond", 1).load()
    with _pytest.raises(ValueError, match="batch-only"):
        AssertionSinks.assert_collected(lambda items: None)(stream)


def test_assert_collected_eventually_rate_stream(spark):
    """assertCollectedEventually (AssertionSinks.java:173) against a real
    rate stream: the assertion keeps failing until enough rows arrive,
    then the query stops and awaitTermination returns True — the
    reference's AssertionCompletedException join() contract."""
    stream = (spark.readStream.format("rate")
              .option("rowsPerSecond", 50).load()
              .selectExpr("value"))
    handle = AssertionSinks.assert_collected_eventually(
        30, lambda items: (_ for _ in ()).throw(
            AssertionError(f"only {len(items)} rows"))
        if len(items) < 10 else None)(stream)
    assert handle.awaitTermination() is True


def test_hash_join_left_semantics(spark):
    """hashJoin pads missing enrichment with null (HashJoinP.java)."""
    p = Pipeline.create(spark)
    facts = p.read_from(TestSources.items([(1, "a"), (2, "b"), (3, "c")], "id long, x string"))
    dim = spark.createDataFrame([(1, "one"), (2, "two")], "id2 long, name string")
    out = (
        facts.hash_join(dim, F.col("id") == F.col("id2"), how="left")
        .map("id", "name")
        .write_to(Sinks.observable())
    )
    got = {r["id"]: r["name"] for r in out}
    assert got == {1: "one", 2: "two", 3: None}


def test_merge_distinct_sort(spark):
    p = Pipeline.create(spark)
    a = p.read_from(TestSources.items([(3,), (1,)], "v long"))
    b = p.read_from(TestSources.items([(2,), (1,)], "v long"))
    out = a.merge(b).distinct().sort("v").write_to(AssertionSinks.assert_ordered([(1,), (2,), (3,)]))
    assert len(out) == 3


def test_aggregate_library(spark):
    p = Pipeline.create(spark)
    rows = [(1, 10.0), (1, 20.0), (2, 5.0)]
    out = (
        p.read_from(TestSources.items(rows, "k long, v double"))
        .grouping_key("k")
        .aggregate(
            n=agg.counting(),
            s=agg.summing("v"),
            avg=agg.averaging("v"),
            mn=agg.min_of("v"),
            mx=agg.max_of("v"),
            top=agg.top_n(1, "v"),
            srt=agg.sorting("v"),
            cat=agg.concatenating_sorted(F.col("v").cast("int"), ","),
        )
        .write_to(Sinks.observable())
    )
    by_k = {r["k"]: r for r in out}
    assert by_k[1]["n"] == 2 and by_k[1]["s"] == 30.0 and by_k[1]["avg"] == 15.0
    assert by_k[1]["top"] == [20.0] and by_k[1]["srt"] == [10.0, 20.0]
    assert by_k[1]["cat"] == "10,20"
    assert by_k[2]["mn"] == 5.0 and by_k[2]["mx"] == 5.0


_COLLECTION_ROWS = [(1, 3, "c"), (1, 1, "a"), (1, 2, "b"), (1, 1, "d"),
                    (2, 7, "x"), (2, None, "y"), (3, 4, "z")]


def test_collection_aggregates_match_python_model(spark):
    """bottomN / toSet / toMap / allOf (AggregateOperations.java:333,
    804, 844, 1337) against a Python model of each, per key."""
    df = spark.createDataFrame(_COLLECTION_ROWS, "k long, v long, s string")
    out = {r["k"]: r for r in df.groupBy("k").agg(*agg.all_of(
        agg.bottom_n(2, "v").alias("bot"),
        agg.to_set("v").alias("vs"),
        agg.to_map("s", "v").alias("m"),
        agg.counting().alias("n"))).collect()}
    assert set(out) == {1, 2, 3}
    for k, r in out.items():
        rows = [(v, s) for kk, v, s in _COLLECTION_ROWS if kk == k]
        vals = [v for v, _ in rows if v is not None]  # aggregates skip NULL
        assert r["bot"] == sorted(vals)[:2]
        assert sorted(r["vs"]) == sorted(set(vals))
        assert r["m"] == {s: v for v, s in rows}
        assert r["n"] == len(rows)


def test_all_of_global_and_to_map_duplicate_keys(spark):
    """all_of over a global (keyless) aggregate gives one row; to_map on
    a repeated key raises (Spark's default map-key dedup policy), like
    Jet's toMap without a merge function."""
    df = spark.createDataFrame(_COLLECTION_ROWS, "k long, v long, s string")
    (r,) = df.agg(*agg.all_of(agg.bottom_n(3, "v").alias("bot"),
                              agg.to_set("k").alias("ks"))).collect()
    assert r["bot"] == [1, 1, 2] and sorted(r["ks"]) == [1, 2, 3]
    dup = df.withColumn("s", F.lit("same"))
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        dup.groupBy("k").agg(agg.to_map("s", "v")).collect()


def test_rolling_aggregate_batch(spark):
    p = Pipeline.create(spark)
    rows = [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0), (2, 1, 5.0)]
    out = (
        p.read_from(TestSources.items(rows, "k long, t long, v double"))
        .grouping_key("k")
        .rolling_aggregate(F.sum("v"), order_col="t", name="run")
        .write_to(Sinks.observable())
    )
    got = sorted((r["k"], r["t"], r["run"]) for r in out)
    assert got == [(1, 1, 1.0), (1, 2, 3.0), (1, 3, 6.0), (2, 1, 5.0)]


def test_map_stateful_batch_keyed(spark):
    import pandas as pd

    def dedup_first(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.head(1)[["k", "v"]]

    p = Pipeline.create(spark)
    rows = [(1, "b", 2), (1, "a", 1), (2, "z", 1)]
    out = (
        p.read_from(TestSources.items(rows, "k long, v string, t long"))
        .grouping_key("k")
        .map_stateful(dedup_first, "k long, v string", order_col="t")
        .write_to(Sinks.observable())
    )
    got = {r["k"]: r["v"] for r in out}
    assert got == {1: "a", 2: "z"}


def test_filter_stateful_batch_keyed(spark):
    """filterStateful (GeneralStage.java:188): keep rows above the key's
    running max — a predicate over per-key history."""
    import pandas as pd

    def new_highs(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[pdf["v"] > pdf["v"].cummax().shift(fill_value=-1 << 62)]

    rows = [(1, 5, 1), (1, 3, 2), (1, 7, 3), (2, 1, 1), (2, 1, 2)]
    out = (
        Pipeline.create(spark)
        .read_from(TestSources.items(rows, "k long, v long, t long"))
        .grouping_key("k")
        .filter_stateful(new_highs, order_col="t")
        .write_to(Sinks.observable())
    )
    got = sorted((r["k"], r["v"]) for r in out)
    assert got == [(1, 5), (1, 7), (2, 1)]


def test_flat_map_stateful_batch_keyed(spark):
    """flatMapStateful (GeneralStage.java:226): emit per-key deltas —
    n inputs → n-1 outputs, schema changed."""
    import pandas as pd

    def deltas(pdf: pd.DataFrame) -> pd.DataFrame:
        d = pdf["v"].diff().dropna()
        return pd.DataFrame({"k": pdf["k"].iloc[1:], "delta": d.astype("int64")})

    rows = [(1, 10, 1), (1, 13, 2), (1, 11, 3), (2, 5, 1)]
    out = (
        Pipeline.create(spark)
        .read_from(TestSources.items(rows, "k long, v long, t long"))
        .grouping_key("k")
        .flat_map_stateful(deltas, "k long, delta long", order_col="t")
        .write_to(Sinks.observable())
    )
    got = sorted((r["k"], r["delta"]) for r in out)
    assert got == [(1, -2), (1, 3)]


def test_stateful_stages_reject_streaming_input(spark):
    """The batch stateful stages fold a bounded input: on a stream,
    applyInPandas per micro-batch would reset the per-key state every
    batch, so all four raise and name the stream form instead."""
    import pandas as pd

    def same(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    stage = Pipeline.create(spark).read_from(
        spark.readStream.format("rate").load().selectExpr("value"))
    keyed = stage.grouping_key("value")
    for build in (lambda: keyed.map_stateful(same, "value long"),
                  lambda: keyed.filter_stateful(same),
                  lambda: keyed.flat_map_stateful(same, "value long"),
                  lambda: stage.map_stateful_global(same, "value long")):
        with pytest.raises(ValueError, match="map_stateful_stream"):
            build()


def test_global_aggregate_stage(spark):
    p = Pipeline.create(spark)
    out = (
        p.read_from(TestSources.items([(i,) for i in range(100)], "v long"))
        .aggregate(n=agg.counting(), s=agg.summing("v"), any=agg.pick_any(F.lit(1)))
        .write_to(Sinks.observable())
    )
    assert out[0]["n"] == 100 and out[0]["s"] == 4950


def test_peek_and_rebalance(spark):
    p = Pipeline.create(spark)
    out = (
        p.read_from(TestSources.items([(i,) for i in range(10)], "v long"))
        .rebalance(4)
        .peek("probe")
        .filter("v >= 5")
        .write_to(Sinks.observable())
    )
    assert len(out) == 5


def test_map_using_service_async(spark):
    """mapUsingServiceAsync — ordered async enrichment with a shared
    service (GeneralStage.java:354)."""
    import asyncio

    from hazelcast_jet_spark import Pipeline, Sinks, TestSources

    def make_service():
        return {"factor": 10}

    async def enrich(service, rec):
        await asyncio.sleep(0.001)
        return {"v": rec["v"], "scaled": rec["v"] * service["factor"]}

    p = Pipeline.create(spark)
    out = (
        p.read_from(TestSources.items([(i,) for i in range(20)], "v long"))
        .map_using_service_async(make_service, enrich, "v long, scaled long")
        .write_to(Sinks.observable())
    )
    assert {r["v"]: r["scaled"] for r in out} == {i: i * 10 for i in range(20)}


def test_map_using_service(spark):
    import pandas as pd

    from hazelcast_jet_spark import Pipeline, Sinks, TestSources

    def make_model():
        return lambda s: s.str.upper()

    def apply_model(model, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"up": model(pdf["s"])})

    p = Pipeline.create(spark)
    out = (
        p.read_from(TestSources.items([("a",), ("b",)], "s string"))
        .map_using_service(make_model, apply_model, "up string")
        .write_to(Sinks.observable())
    )
    assert sorted(r["up"] for r in out) == ["A", "B"]


def test_set_name_and_local_parallelism(spark):
    from hazelcast_jet_spark.pipeline import Pipeline

    p = Pipeline.create(spark)
    stage = (
        p.read_from(spark.range(0, 100))
        .set_name("numbers")
        .set_local_parallelism(4)
        .filter(F.col("id") % 2 == 0)
    )
    assert stage.df.count() == 50
    assert stage.df.rdd.getNumPartitions() == 4


def test_hash_join_builder_three_stages(spark, sf_dir):
    """Tag-based N-way hashJoinBuilder (GeneralHashJoinBuilder.java):
    three enrichment stages added under tags, built as ONE composite —
    all three join broadcast-style in a single codegen pass, and the
    result equals the chained hash_join plan row-for-row."""
    from hazelcast_jet_spark import Pipeline
    from hazelcast_jet_spark.session import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")

    p = Pipeline.create(spark)
    b = p.read_from(o).hash_join_builder()
    t1 = b.add(c, F.col("o_custkey") == F.col("c_custkey"))
    t2 = b.add(n, F.col("c_nationkey") == F.col("n_nationkey"))
    t3 = b.add(r, F.col("n_regionkey") == F.col("r_regionkey"))
    assert (t1, t2, t3) == (0, 1, 2)
    assert b.tag_cols(t3) == ["r_regionkey", "r_name"]
    built = b.build().df

    plan = built._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan

    chained = (
        Pipeline.create(spark).read_from(o)
        .hash_join(c, F.col("o_custkey") == F.col("c_custkey"))
        .hash_join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .hash_join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .df
    )
    a = built.select("o_orderkey", "c_name", "n_name", "r_name").orderBy("o_orderkey").collect()
    e = chained.select("o_orderkey", "c_name", "n_name", "r_name").orderBy("o_orderkey").collect()
    assert a == e and len(a) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        Pipeline.create(spark).read_from(o).hash_join_builder().build()


def test_to_dot_string_renders_the_dataflow(spark):
    """Pipeline.toDotString / DAG.toDotString parity (Pipeline.java:133,
    DAG.java:440): the DOT graph names each plan operator once
    (de-duplicated with #k), draws child->parent dataflow edges, and the
    physical variant unwraps AQE to the real operator DAG."""
    import re

    from hazelcast_jet_spark import aggregates as agg
    from hazelcast_jet_spark.pipeline import Pipeline, to_dot_string

    p = Pipeline.create(spark)
    assert p.is_empty()
    df = spark.range(100).withColumn("k", F.col("id") % 5)
    st = (p.read_from(df).filter(F.col("id") > 10)
          .grouping_key("k").aggregate(cnt=agg.counting()))
    assert not p.is_empty()

    dot = st.to_dot_string()
    assert dot.startswith("digraph DAG {") and dot.endswith("}")
    for op in ("Aggregate", "Filter", "Range"):
        assert f'"{op}"' in dot
    assert '"Filter" -> "Aggregate";' in dot
    # a chain has exactly nodes-1 edges
    nodes = re.findall(r'"\S+" \[outputs=\d+\];', dot)
    arrows = re.findall(r'" -> "', dot)
    assert len(arrows) == len(nodes) - 1
    # pipeline-level render follows the last declared stage
    assert p.to_dot_string() == to_dot_string(df)

    # physical: AQE unwrapped to the real exchange/aggregate operators
    phys = st.to_dot_string(physical=True)
    assert "Exchange" in phys and "HashAggregate" in phys

    # a self-join re-uses operator names -> #k de-dup keeps ids unique
    j = df.join(df.select(F.col("id").alias("id2")),
                F.col("id") == F.col("id2"))
    dj = to_dot_string(j)
    assert '"Range"' in dj and '"Range#1"' in dj

    # an empty pipeline renders an empty graph
    assert Pipeline.create(spark).to_dot_string() == "digraph DAG {\n}"


def test_noop_sink_evaluates_every_column(spark):
    """Sinks.noop drains through Spark's noop data source: a column that
    fails must fail the sink.  A ``count()`` would let the optimizer
    prune the column, and the failure would never run."""

    @F.udf("long")
    def boom(v):
        raise ValueError("noop sink evaluated the column")

    p = Pipeline.create(spark)
    stage = (p.read_from(TestSources.items([(i,) for i in range(4)], "v long"))
             .map(F.col("v"), boom("v").alias("b")))
    assert stage.df.count() == 4  # pruned: the failing column never runs
    with pytest.raises(Exception, match="noop sink evaluated the column"):
        stage.write_to(Sinks.noop())
    # the drained rows are discarded, as before
    ok = p.read_from(TestSources.items([(1,)], "v long"))
    assert ok.write_to(Sinks.noop()) is None
