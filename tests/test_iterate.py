"""operators/iterate.cut: the one lineage-cut step of the iterative
operators (graph.py loops, dedup.dedup_clusters)."""

from pyspark.sql import functions as F

from local_data_pipeline_spark.operators.iterate import cut


def test_cut_returns_observed_values_only_when_asked(spark):
    df = spark.range(10)
    lazy, values = cut(df)
    assert values == {}
    assert sorted(r.id for r in lazy.collect()) == list(range(10))
    eager, values = cut(df, total=F.sum("id"), n=F.count("*"))
    assert values == {"total": 45, "n": 10}
    assert sorted(r.id for r in eager.collect()) == list(range(10))
    # an empty state observes NULL aggregates, not a missing key
    _, values = cut(df.filter("id < 0"), total=F.sum("id"))
    assert values == {"total": None}
