"""K-means (Lloyd) convergence properties: mean within-cluster cosine must
not decrease across iterations, every cluster stays populated, and the
membership counts always sum to the corpus size."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.extensions.similarity import (
    _nearest_cid,
    kmeans_centroids_quantized,
)
from apache_hive_1_2_2_src_spark.tables import load_table
from tests.conftest import SF_DIR


def _mean_cos(spark, iters):
    """Train k=4 centroids for ``iters`` Lloyd iterations and assign every
    vector to its nearest one: per-cluster (cid, n_members, avg_cos)."""
    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    out = (
        _nearest_cid(e, kmeans_centroids_quantized(e, 4, iters))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("cos"), 4).alias("avg_cos"),
        )
        .orderBy("cid")
    )
    rows = out.collect()
    n = sum(r.n_members for r in rows)
    mean = sum(r.avg_cos * r.n_members for r in rows) / n
    return rows, n, mean


def test_kmeans_improves_over_seed(spark):
    total = load_table(spark, SF_DIR, "embeddings").count()
    rows0, n0, cos0 = _mean_cos(spark, iters=0)   # seed centroids only
    rows3, n3, cos3 = _mean_cos(spark, iters=3)
    assert n0 == n3 == total                       # every vector assigned once
    assert len(rows3) == 4 and all(r.n_members > 0 for r in rows3)
    assert cos3 >= cos0 - 1e-9                     # Lloyd never degrades


def test_kmeans_monotone_iterations(spark):
    _, _, c1 = _mean_cos(spark, iters=1)
    _, _, c2 = _mean_cos(spark, iters=2)
    assert c2 >= c1 - 1e-9


def test_quantized_centroids_partitioning_invariant(spark):
    """The r12 determinism device: quantized-update Lloyd centroids
    (integer floor sums) must be BIT-identical regardless of input
    partitioning — the property that lets iterative trained pipelines
    (SemDeDup-kmeans, IVF-kmeans, PQ) carry exact DuckDB oracles. A
    float-mean update would differ in the last ulp across partition
    counts and break this."""
    from apache_hive_1_2_2_src_spark.extensions.similarity import (
        kmeans_centroids_quantized,
    )
    from apache_hive_1_2_2_src_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    got = []
    for n_parts in (1, 13):
        cents = kmeans_centroids_quantized(e.repartition(n_parts), 8, 2)
        got.append(
            sorted((r.cid, tuple(r.ce)) for r in cents.collect())
        )
    assert got[0] == got[1], "centroids depend on partitioning"
    # and every coordinate is exactly representable on the 2^-20 grid
    # scaled by 1/count — spot check a few are plain finite floats
    assert all(all(v == v for v in ce) for _cid, ce in got[0])


def test_quantized_centroids_checkpoint_invariant(spark):
    """checkpoint_every (the O(iters²)→O(iters) broadcast-rebuild fix,
    SCALE.md r13) must not change a single bit: the quantized update is
    lineage-invariant, so truncating lineage is pure plumbing."""
    from apache_hive_1_2_2_src_spark.extensions.similarity import (
        kmeans_centroids_quantized,
    )
    from apache_hive_1_2_2_src_spark.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    plain = sorted(
        (r.cid, tuple(r.ce))
        for r in kmeans_centroids_quantized(e, 8, 5).collect()
    )
    ckpt = sorted(
        (r.cid, tuple(r.ce))
        for r in kmeans_centroids_quantized(e, 8, 5, checkpoint_every=2).collect()
    )
    assert plain == ckpt


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_kmeans_train_invariants_across_sfs(spark, registry, sf):
    """similarity_kmeans_train's oracle checks invariants, not values:
    every vector assigned once, all 8 clusters populated, and the
    objective no worse after training than at the seeds. They must hold
    beyond sf0.001 (which the shared oracle-sample run checks)."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    n = load_table(spark, sf_dir, "embeddings").count()
    got = registry["similarity_kmeans_train"].build(spark, sf_dir).collect()
    assert [tuple(r) for r in got] == [(n, 8, True)]


def test_quantized_centroids_match_the_oracle_replay_unrounded(spark, oracle_con):
    """The trained centroids themselves, unrounded, against the DuckDB
    replay every trained-clustering oracle shares (``_kmq_train_ctes``).
    The registered queries only see the centroids through rounded scores
    and cell assignments, which a changed quantum on one side can leave
    unmoved; each coordinate here must agree to 1e-9."""
    from apache_hive_1_2_2_src_spark.extensions.similarity import (
        _KMQ_ITERS,
        _KMQ_K,
        _kmq_train_ctes,
    )

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    got = {r.cid: r.ce for r in kmeans_centroids_quantized(e, _KMQ_K, _KMQ_ITERS).collect()}
    ctes, cur = _kmq_train_ctes()
    sql = "WITH " + "\n".join(ctes).rstrip().rstrip(",") + f"\nSELECT cid, ce FROM {cur}"
    want = {cid: ce for cid, ce in oracle_con.execute(sql).fetchall()}
    assert set(got) == set(want)
    for cid, ce in want.items():
        assert len(got[cid]) == len(ce), cid
        worst = max(abs(a - b) for a, b in zip(got[cid], ce))
        assert worst <= 1e-9, (cid, worst)
