"""IVF ANN: quantizer determinism, assignment is JVM-side, probe recall
vs the brute-force oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkts.operators import cosine_topk, ivf_ann_topk, train_ivf_centroids
from sparkts.operators.similarity import ivf_assign_col


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def centroids(emb):
    return train_ivf_centroids(emb, n_lists=8, sample_rows=500, seed=7)


def test_centroids_deterministic(emb, centroids):
    c2 = train_ivf_centroids(emb, n_lists=8, sample_rows=500, seed=7)
    np.testing.assert_array_equal(centroids, c2)
    assert centroids.shape[0] == 8


def test_assignment_jvm_side(emb, centroids):
    assigned = emb.withColumn("l", ivf_assign_col("embedding", centroids))
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no UDF anywhere
    lists = assigned.groupBy("l").count().toPandas()
    assert lists["l"].between(0, 7).all()
    assert len(lists) >= 4  # vectors spread over multiple lists


def test_probe_recall_vs_bruteforce(emb, centroids):
    query = emb.select("embedding").first()[0]
    exact = set(
        cosine_topk(emb, query, k=5).toPandas()["vec_id"])
    # full probe = exhaustive → recall 1
    full = set(
        ivf_ann_topk(emb, query, centroids, k=5, nprobe=8).toPandas()["vec_id"])
    assert full == exact
    # small probe still finds the query's own list (top-1 must survive)
    approx = ivf_ann_topk(emb, query, centroids, k=5, nprobe=2).toPandas()
    assert len(set(approx["vec_id"]) & exact) >= 3


def test_lloyd_kmeans_centroid_loop_bit_equal():
    """The r6 per-centroid distance loop reproduces the broadcast
    formulation bit for bit (same contiguous reduction axis)."""
    import numpy as np

    from sparkts.operators.similarity import lloyd_kmeans

    rng = np.random.default_rng(3)
    sample = rng.normal(0, 1, (700, 32))
    ref_cent = sample[np.random.default_rng(42).choice(700, 8, replace=False)].copy()
    for _ in range(10):
        d = ((sample[:, None, :] - ref_cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(8):
            pts = sample[assign == j]
            if pts.shape[0]:
                ref_cent[j] = pts.mean(axis=0)
    assert np.array_equal(lloyd_kmeans(sample, 8, 10, 42), ref_cent)


def test_null_and_nan_vectors_sit_in_no_list(spark):
    centroids = np.array([[0.0, 1.0], [1.0, 0.0]])
    df = spark.createDataFrame(
        [(0, [0.1, 1.0]), (1, [0.0, 0.9]), (2, [1.0, 0.1]), (3, None),
         (4, [float("nan"), 1.0]), (5, [float("inf"), 1.0]),
         (6, [1e200, 1.0])],
        "vec_id long, embedding array<double>")
    lists = dict(df.select("vec_id", ivf_assign_col("embedding", centroids))
                 .collect())
    assert lists == {0: 0, 1: 0, 2: 1, 3: None, 4: None, 5: None, 6: None}
    top = ivf_ann_topk(df, [0.1, 1.0], centroids, k=4, nprobe=2).toPandas()
    assert sorted(top["vec_id"]) == [0, 1, 2]
    assert top["cos_sim"].notna().all()
