"""Round-12 (optimization round 2) pins: observed-metric graph
normalizers stay partition-invariant and mass-conserving, the memoized
expression caches return identical plans/results, and the single-scan
changelog derivation equals the old 3-way union."""

from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_observed_dmass_partition_invariant(spark):
    """The dangling mass now crosses iterations as an Observation metric
    (a driver literal) instead of an in-plan broadcast column — the
    decimal-sum exactness contract means ranks must be bit-identical at
    any input partitioning, including on a graph WITH dangling nodes
    (node 9 has no out-edges)."""
    from local_data_pipeline_spark.operators.graph import pagerank

    pairs = [(1, 2), (2, 3), (3, 1), (1, 9), (4, 9), (5, 1)]
    e1 = _edges(spark, pairs).repartition(1)
    e7 = _edges(spark, pairs).repartition(7)
    r1 = {r.node: r.rank for r in pagerank(e1, iterations=7).collect()}
    r7 = {r.node: r.rank for r in pagerank(e7, iterations=7).collect()}
    assert r1 == r7  # bit-identical, not approx
    # dangling mass was redistributed: total mass conserved ~1
    assert abs(sum(r1.values()) - 1.0) < 1e-9


def test_hits_observed_normalizers_partition_invariant(spark):
    """Each side's sum-normalizer rides the checkpoint job as an
    observed exact-decimal total; scores must be bit-identical at any
    partitioning and each side must sum to ~1."""
    from local_data_pipeline_spark.operators.graph import hits

    pairs = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    h1, a1 = hits(_edges(spark, pairs).repartition(1), iterations=3)
    h7, a7 = hits(_edges(spark, pairs).repartition(7), iterations=3)
    hs1 = {r.node: r.score for r in h1.collect()}
    hs7 = {r.node: r.score for r in h7.collect()}
    as1 = {r.node: r.score for r in a1.collect()}
    as7 = {r.node: r.score for r in a7.collect()}
    assert hs1 == hs7 and as1 == as7
    assert abs(sum(hs1.values()) - 1.0) < 1e-9
    assert abs(sum(as1.values()) - 1.0) < 1e-9


def test_signature_expr_cache_hits_and_results_stable(spark):
    """_SIG_EXPR_CACHE memoizes the (n_hashes, hash_family) Column
    trees: repeated calls must reuse the SAME tree objects (no py4j
    rebuild) and produce identical signatures."""
    from local_data_pipeline_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    DD.minhash_signature(df, hash_family="rk_pow5")  # populate
    before = DD._SIG_EXPR_CACHE[(32, "rk_pow5")]
    s1 = {
        r.doc_id: list(r.signature)
        for r in DD.minhash_signature(df, hash_family="rk_pow5").collect()
    }
    s2 = {
        r.doc_id: list(r.signature)
        for r in DD.minhash_signature(df, hash_family="rk_pow5").collect()
    }
    assert s1 == s2
    assert DD._SIG_EXPR_CACHE[(32, "rk_pow5")] is before  # no rebuild


def test_two_signature_outputs_join_and_union(spark):
    """Two minhash_signature outputs built with the same parameters share
    the memoized, already-aliased signature Column (one fixed expression
    id). One plan holding both — a join on the signature and a union —
    must still read each side's own rows."""
    from local_data_pipeline_spark.operators import dedup as DD

    a_df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    b_df = spark.createDataFrame(
        [(1, "one two three four"), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    a = DD.minhash_signature(a_df, hash_family="rk_pow5")
    b = DD.minhash_signature(b_df, hash_family="rk_pow5")
    sa = {r.doc_id: list(r.signature) for r in a.collect()}
    sb = {r.doc_id: list(r.signature) for r in b.collect()}
    assert sa[1] == sb[3] and sa[2] == sb[1] and sa[1] != sa[2]

    same_sig = a.alias("a").join(
        b.alias("b"), F.col("a.signature") == F.col("b.signature")
    )
    assert sorted(
        (r[0], r[1]) for r in same_sig.select("a.doc_id", "b.doc_id").collect()
    ) == [(1, 3), (2, 1)]
    both = sorted((r.doc_id, list(r.signature)) for r in a.union(b).collect())
    assert both == sorted(list(sa.items()) + list(sb.items()))


def test_bucket_expr_cache_reuse_and_lsh_results_stable(spark):
    """_BUCKET_EXPR_CACHE: repeated lsh_topk calls reuse the bucket tree
    and return identical rankings."""
    from local_data_pipeline_spark.operators import similarity as SIM

    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)])
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = emb.filter(F.col("vec_id") < 3)
    kw = dict(k=3, dim=8, n_planes=4, hash_family="rademacher")
    r1 = sorted(tuple(r) for r in SIM.lsh_topk(qs, emb, **kw).collect())
    n_cached = len(SIM._BUCKET_EXPR_CACHE)
    r2 = sorted(tuple(r) for r in SIM.lsh_topk(qs, emb, **kw).collect())
    assert r1 == r2
    assert len(SIM._BUCKET_EXPR_CACHE) == n_cached  # second call all hits


def test_doc_changelog_single_scan_equals_three_way_union(spark):
    """The shared _doc_changelog (one filter + CASE scan) must emit the
    exact row set of the previous 3-way unionByName derivation."""
    from local_data_pipeline_spark.queries import _doc_changelog

    d = spark.createDataFrame(
        [(i, f"text number {i} body") for i in range(0, 230)],
        "doc_id long, text string",
    )
    m = F.col("doc_id") % 100
    null_s = F.lit(None).cast("string")
    old = (
        d.filter(m < 10)
        .select(
            F.col("doc_id").alias("key"),
            F.lit("D").alias("op"),
            null_s.alias("after_text"),
        )
        .unionByName(
            d.filter((m >= 10) & (m < 15)).select(
                F.col("doc_id").alias("key"),
                F.lit("U").alias("op"),
                F.concat(F.col("text"), F.lit(" revised edition zz")).alias(
                    "after_text"
                ),
            )
        )
        .unionByName(
            d.filter(m == 16).select(
                (F.col("doc_id") + 1_000_000_000_000).alias("key"),
                F.lit("U").alias("op"),
                F.concat(
                    F.col("text"), F.lit(" appended continuation zz")
                ).alias("after_text"),
            )
        )
    )
    got = sorted(tuple(r) for r in _doc_changelog(d).collect())
    want = sorted(tuple(r) for r in old.collect())
    assert got == want and len(got) > 0
    # single scan: exactly one LocalTableScan/scan source in the plan
    plan = _doc_changelog(d)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("union") == 0
