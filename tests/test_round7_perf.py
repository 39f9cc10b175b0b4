"""Round-7 optimization pins: internals changed for performance must
stay value-identical to the shapes they replaced."""

from __future__ import annotations

from pyspark.sql import functions as F

from datacurator_jl_spark.operators import dedup as DD


def _mk_edges(spark, pairs):
    both = pairs + [(b, a) for a, b in pairs]
    return DD._materialize(
        spark.createDataFrame(both, "src long, dst long"), "local"
    )


def test_driver_components_match_distributed_plain_labels(spark, monkeypatch):
    """The driver union-find path (round-7) must reach the exact
    component-min fixpoint the distributed min-label loop reaches —
    chain-shaped graph (diameter 5) plus a singleton."""
    # chain 1-2-3-4-5-6, pair (10, 11), singleton 20
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)]
    universe = spark.createDataFrame(
        [(d,) for d in [1, 2, 3, 4, 5, 6, 10, 11, 20]], "doc long"
    )
    edges = _mk_edges(spark, pairs)
    labels = DD._materialize(
        universe.select("doc").distinct().withColumn("comp", F.col("doc")),
        "local",
    )
    got_driver = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    monkeypatch.setattr(DD, "DRIVER_COMPONENTS_MAX_EDGES", 0)
    got_dist = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    assert got_driver == got_dist
    assert (20, 20) in got_driver  # singleton keeps its self-label
    assert all(c == 1 for d, c in got_driver if d in {1, 2, 3, 4, 5, 6})


def test_driver_components_match_distributed_struct_labels(spark, monkeypatch):
    """Struct (rank, id) labels — the incremental-ingest flavor where
    base docs (rank 0) must win any mixed component — must also be
    bit-identical between the two paths."""
    pairs = [(1, 2), (2, 3), (5, 6)]  # 3 is a base doc; 5-6 all-new
    new_ids = [1, 2, 5, 6]
    base_ids = [3]
    labels_rows = [
        (d, {"rank": 1, "id": d}) for d in new_ids
    ] + [(d, {"rank": 0, "id": d}) for d in base_ids]
    labels = DD._materialize(
        spark.createDataFrame(
            labels_rows, "doc long, comp struct<rank:int, id:long>"
        ),
        "local",
    )
    edges = _mk_edges(spark, pairs)
    got_driver = {
        (r["doc"], tuple(r["comp"]))
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    monkeypatch.setattr(DD, "DRIVER_COMPONENTS_MAX_EDGES", 0)
    got_dist = {
        (r["doc"], tuple(r["comp"]))
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    assert got_driver == got_dist
    # the 1-2-3 component is base-rooted; 5-6 stays new-rooted at min id
    by_doc = dict(got_driver)
    assert by_doc[1] == (0, 3) and by_doc[2] == (0, 3)
    assert by_doc[5] == (1, 5) and by_doc[6] == (1, 5)


def test_driver_components_fall_back_on_unlabeled_endpoint(spark):
    """An edge endpoint with no initial label cannot forward labels in
    the distributed loop — the driver path must refuse (fall back)
    rather than bridge through it."""
    pairs = [(1, 99), (99, 2)]  # 99 has no label row
    labels = DD._materialize(
        spark.createDataFrame(
            [(1, 1), (2, 2)], "doc long, comp long"
        ),
        "local",
    )
    edges = _mk_edges(spark, pairs)
    out = {
        (r["doc"], r["comp"])
        for r in DD._propagate_min_labels(edges, labels, 25, "local").collect()
    }
    # distributed semantics: 1 and 2 cannot see each other through 99
    assert out == {(1, 1), (2, 2)}


def test_driver_kmeans_fit_matches_distributed(spark, monkeypatch):
    """The driver numpy k-means twin (round-7) must produce BIT-EQUAL
    centroids to the distributed Lloyd's plan — duplicate vectors
    (exact 6dp ties), opposite vectors, k > n, and iters=0 included.
    The zero-norm vector is excluded from fit by both paths."""
    import random

    from datacurator_jl_spark.operators import similarity as SIM

    random.seed(3)
    rows = []
    for i in range(120):
        if i % 5 == 0:
            v = [1.0, 0.0, 0.0]
        elif i % 5 == 1:
            v = [-1.0, 0.0, 0.0]
        else:
            v = [random.uniform(-1, 1) for _ in range(3)]
        rows.append((i, v))
    rows.append((500, [0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cents(d):
        return {(r["cid"], tuple(r["centroid"])) for r in d.collect()}

    for k, iters in [(4, 3), (1, 0), (200, 2)]:
        a = cents(SIM.kmeans_fit(df, "vec_id", "embedding", k=k, iters=iters))
        b = cents(
            SIM.kmeans_fit(
                df, "vec_id", "embedding", k=k, iters=iters, driver_max_rows=0
            )
        )
        assert a == b, (k, iters)


def test_bucket_star_edges_components_match_pairwise(spark):
    """Round-7: per-bucket STAR edges must yield the same connected
    components as the full pairwise candidate join — overlapping
    buckets chain components across bands exactly as before."""
    from pyspark.sql import functions as F

    from datacurator_jl_spark.operators.dedup import (
        _bucket_star_edges,
        _materialize,
        components_from_pairs,
    )

    # buckets: (band, key) groups with overlap: doc 3 bridges two keys
    rows = [
        (1, 0, 10), (2, 0, 10), (3, 0, 10),   # bucket A: {1,2,3}
        (3, 1, 20), (4, 1, 20), (5, 1, 20),   # bucket B: {3,4,5} — chains
        (7, 0, 30), (8, 0, 30),               # bucket C: {7,8}
        (9, 1, 40),                           # singleton bucket
    ]
    buckets = _materialize(
        spark.createDataFrame(rows, "doc long, band int, key long"), "local"
    )
    universe = spark.createDataFrame([(i,) for i in range(1, 10)], "doc long")
    star = _bucket_star_edges(buckets, None)
    a, b = buckets.alias("a"), buckets.alias("b")
    clique = (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    got_star = {
        (r["doc"], r["comp"])
        for r in components_from_pairs(star, universe).collect()
    }
    got_clique = {
        (r["doc"], r["comp"])
        for r in components_from_pairs(clique, universe).collect()
    }
    assert got_star == got_clique
    assert (5, 1) in got_star     # chained across buckets A/B
    assert (8, 7) in got_star and (9, 9) in got_star
