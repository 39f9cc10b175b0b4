"""Similarity search over embedding columns (array<float>).

Two paths, both pure DataFrame ops:

- ``cosine_topk``: brute-force baseline. The (small) query side is
  **broadcast** into a cross join — no shuffle of the big corpus side;
  per-pair cosine is a native ``aggregate``/``zip_with`` fold (JVM,
  codegen). Correct at any corpus size as long as the query set is
  broadcastable; cost O(|corpus| * |queries|).
- ``ivf_topk``: the scale path — an IVF (inverted-file) index with the
  cluster id taken from a partition column (here: the pre-assigned
  ``label``; in production: k-means ids computed offline). Queries probe
  only their ``nprobe`` nearest centroids, cutting the scanned fraction
  to nprobe/nlist. Centroids are computed with one explode+groupBy
  (cheap: rows × dim), then broadcast.

Determinism: cosine sums fold left-to-right over the array in both
engines; results are rounded to 6dp and ties broken by neighbor id so
top-k sets are stable and oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_rows: int | None = 100_000,
) -> DataFrame:
    """Brute-force top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, sim) — sim rounded to 6dp,
    rank 1..k by (sim desc, neighbor_id asc); self-matches excluded.

    Broadcast guard (round-6, VERDICT r5 Next #7): the query side is
    broadcast unconditionally — correct ONLY while it fits every
    executor and the driver (100k rows of 768-dim floats ≈ 300 MB,
    already at the practical ceiling). A row-count probe (bounded:
    ``limit(max+1).count()``, never a full count of a huge frame) fails
    fast with a pointer to the scale path instead of OOMing the driver
    mid-broadcast. ``max_broadcast_rows=None`` disables the probe when
    the caller guarantees the size.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    if max_broadcast_rows is not None:
        probe = q.limit(int(max_broadcast_rows) + 1).count()
        if probe > max_broadcast_rows:
            raise ValueError(
                f"cosine_topk broadcasts the query side, but it exceeds "
                f"max_broadcast_rows={max_broadcast_rows} — use ivf_topk "
                "(nprobe/nlist pruning) or srp near-dup for a large "
                "query set, raise the cap only if the executors/driver "
                "can hold it, or pass max_broadcast_rows=None"
            )
    # per-row norms below the join (round-7, guide §1.2 step 2): the
    # per-pair similarity then folds ONE interpreted HOF (the dot)
    # instead of three — ||qv|| was being recomputed for every corpus
    # row and ||cv|| for every query. Projections do not collapse
    # across a join, so each norm is evaluated once per row.
    # Bit-identical: same sqrt, same product order as
    # ``_norm(qv) * _norm(cv)``.
    q = q.withColumn("_qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("_cn", _norm(F.col("cv")))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def centroids_by(
    corpus: DataFrame, cluster_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-cluster mean vector: explode to (cluster, pos, val), average,
    re-assemble ordered by position. One shuffle of rows×dim scalars."""
    pos = (
        corpus.select(cluster_col, F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(cluster_col, "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("m"))
    )
    return (
        pos.groupBy(cluster_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-bucketed ANN: probe the nprobe clusters whose centroids are
    most cosine-similar to the query, then exact top-k within them.

    Only the probed clusters are scanned — the 100 TB path (centroid
    table is tiny and broadcast; the corpus join is an equi-join on the
    cluster id, prunable by partition when the corpus is written
    partitioned by cluster).
    """
    # per-row norms below each join (round-7, see cosine_topk): ||qv||
    # is computed once per query (and carried through the probe table),
    # ||centroid|| once per centroid, ||cv|| once per corpus row — the
    # per-pair cosine folds only the dot. Same sqrt, same product order.
    cents = centroids_by(corpus, cluster_col, vec_col).withColumn(
        "_cn", _norm(F.col("centroid"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("_qn", _norm(F.col("qv")))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("csim"), F.asc(cluster_col)
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qv",
            "_qn",
            cluster_col,
            F.round(
                _dot(F.col("qv"), F.col("centroid"))
                / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("csim"),
        )
        .withColumn("prank", F.row_number().over(probe_w))
        .filter(F.col("prank") <= nprobe)
        .select("query_id", "qv", "_qn", cluster_col)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(cluster_col), F.col(vec_col).alias("cv")
    ).withColumn("_cvn", _norm(F.col("cv")))
    sims = (
        c.join(F.broadcast(probes), cluster_col)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (F.col("_qn") * F.col("_cvn")),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


# ---------------------------------------------------------------------------
# SRP-LSH (signed random projections): bucketed embedding near-dup WITHOUT
# precomputed cluster labels — hyperplane sign bits -> banded equi-join.
# The embedding analogue of MinHash-LSH: candidate generation is a join on
# band keys (shuffle on small int keys only), never an all-pairs product.
# ---------------------------------------------------------------------------


def srp_planes(dim: int, bits: int, seed: int = 7):
    """Deterministic hyperplanes (seeded standard normal). The SAME matrix
    is inlined as literals into the DuckDB oracle, so both engines project
    onto identical planes."""
    import numpy as np

    return np.random.RandomState(seed).standard_normal((dim, bits))


def srp_signature(
    df: DataFrame,
    emb_col: str,
    dim: int,
    bits: int = 16,
    seed: int = 7,
    out_col: str = "srp_sig",
) -> DataFrame:
    """Append the ``bits``-bit signed-random-projection signature.

    One Arrow-batched pandas UDF doing a float64 BLAS matmul per batch —
    the honest scale path for per-row projections (a per-bit HOF fold
    would be ``bits`` interpreted passes; see functions/arrow_hash.py for
    the measured rationale). Dots are rounded to 6dp before the sign so
    float summation-order ulps can never flip a bit across engines.
    Null/ragged embeddings get a NULL signature (no projection exists) —
    distinct from the LEGITIMATE signature 0 of a vector whose every
    rounded dot is <= 0 (e.g. the zero vector), which keeps candidacy.
    """
    import numpy as np
    import pandas as pd

    planes = srp_planes(dim, bits, seed)
    weights = (1 << np.arange(bits)).astype(np.int64)

    # no type hints: postponed annotations ('pd.Series' strings) cannot be
    # resolved by pandas_udf when pd is imported function-locally
    @F.pandas_udf("long")
    def sig(embs):
        out = pd.Series(pd.NA, index=embs.index, dtype="Int64")
        ok = embs.map(lambda v: v is not None and len(v) == dim)
        if ok.any():
            m = np.vstack(embs[ok].to_numpy()).astype(np.float64)
            dots = np.round(m @ planes, 6)
            out[ok] = (dots > 0) @ weights
        return out

    return df.withColumn(out_col, sig(F.col(emb_col)))


def srp_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    dim: int,
    bits: int = 16,
    bands: int = 4,
    seed: int = 7,
    max_hamming: int = 3,
    max_bucket: int | None = 1000,
    materialize: str = "local",
) -> DataFrame:
    """Embedding near-dup candidates: (id_a, id_b, hamming) for pairs
    sharing >= 1 signature band, kept when the full-signature Hamming
    distance <= ``max_hamming``. Shuffle payload: (id, band value,
    signature) — three longs per row per band.

    Skew guard: ``max_bucket`` drops (band, val) buckets larger than the
    cap before the self-join — a degenerate bucket (e.g. many null/zero
    embeddings all collapsing to signature 0, or one dense cluster
    pinning a band value) would otherwise contribute O(bucket²) pairs,
    the unbounded join every other pair generator here already caps.
    ``materialize`` picks the durability of the bucket frame (same
    policy as ``lsh_candidate_pairs``: ``local`` | ``reliable`` |
    a directory path for a persisted parquet signature table).
    """
    from datacurator_jl_spark.operators.dedup import _materialize, _rows_per_band

    rows = _rows_per_band(bits, bands, "bits")
    mask = (1 << rows) - 1
    sig = srp_signature(df.select(id_col, emb_col), emb_col, dim, bits, seed)
    # Null/ragged embeddings have NULL signatures (srp_signature) — they
    # carry no projection information, so like MinHash's null-lane rule
    # (dedup.py lsh_candidate_pairs): no signature -> no candidacy.
    # A LEGITIMATE signature 0 (all dots <= 0, e.g. identical zero
    # vectors) keeps candidacy; the max_bucket cap still bounds any
    # degenerate pile-up of such rows.
    sig = sig.filter(F.col("srp_sig").isNotNull())
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("srp_sig"), b * rows).bitwiseAND(F.lit(mask)).alias("val"),
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col(id_col).alias("doc"),
        F.col("srp_sig").alias("sig"),
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select("doc", "sig", F.col("bk.band").alias("band"), F.col("bk.val").alias("val"))
    # materialize BEFORE capping (round 6, see lsh_candidate_pairs):
    # the self-join — and _drop_over_cap's two consumers — would
    # otherwise run the projection UDF once per branch. The cap applies
    # to ONE side of the self-join only: output-identical (a pair needs
    # its bucket on both sides), and the cap join runs once.
    buckets = _materialize(buckets, materialize)
    if max_bucket:
        from datacurator_jl_spark.operators.dedup import _drop_over_cap

        capped = _drop_over_cap(buckets, ["band", "val"], max_bucket)
    else:
        capped = buckets
    a, b = capped.alias("a"), buckets.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def srp_near_dup_survivors(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    dim: int,
    bits: int = 16,
    bands: int = 4,
    seed: int = 7,
    max_hamming: int = 3,
    max_bucket: int | None = 1000,
    materialize: str = "local",
    max_iter: int = 25,
) -> DataFrame:
    """Embedding-space near-dedup keep-set: one representative (the
    component-min id) per SRP near-dup cluster — the embedding twin of
    the text path's ``drop_near_dupes`` (SRP pairs -> generic connected
    components -> semi-join). Docs with NULL signatures (null/ragged
    embeddings) are singletons and always survive."""
    from datacurator_jl_spark.operators.dedup import components_from_pairs

    pairs = srp_near_dup_pairs(
        df, id_col, emb_col, dim, bits, bands, seed, max_hamming,
        max_bucket=max_bucket, materialize=materialize,
    ).select("id_a", "id_b")
    comps = components_from_pairs(
        pairs, df.select(F.col(id_col).alias("doc")),
        max_iter=max_iter, materialize=materialize,
    )
    reps = comps.filter(F.col("doc") == F.col("comp")).select("doc")
    return df.join(reps, df[id_col] == reps.doc, "left_semi")


# ---------------------------------------------------------------------------
# Deterministic k-means (Lloyd's): the missing producer for every
# cluster-consuming op here (ivf_topk's index, semdedup_survivors'
# blocking) — in production those ids come from an offline k-means; this
# IS that job, as a Spark plan.
# ---------------------------------------------------------------------------


def _quantized_dims(pts: DataFrame) -> DataFrame:
    """(doc, pos, qv): per-dimension micro-quantized values,
    ``qv = round(v[pos] * 1e6)`` as bigint. Centroids are then built from
    EXACT integer sums (order-free, partial-agg-safe) — the same
    integer-determinism posture as operators/dsir.py's micro-nat model;
    a float ``avg`` would make cluster means depend on partial-aggregation
    order, and a 6dp-rounded assignment can flip on that ulp."""
    return pts.select(
        "doc", F.posexplode("v").alias("pos", "val")
    ).select(
        "doc",
        "pos",
        F.round(F.col("val").cast("double") * F.lit(1e6), 0)
        .cast("long")
        .alias("qv"),
    )


def _centroids_of(qt: DataFrame, members: DataFrame) -> DataFrame:
    """(cid, centroid array<double>) from exact per-(cid, pos) bigint sums:
    mean = sum(qv) / (n * 1e6), a pure function of exact integers —
    identical across engines, retries, and input partitionings. Holds
    while |sum(qv)| < 2^53 (~9e15): at qv ~ 1e6 that is ~10^9 members per
    cluster — beyond it, pre-split clusters or raise the quantum."""
    per_dim = (
        qt.join(members, "doc")
        .groupBy("cid", "pos")
        .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "cid",
            "pos",
            (F.col("s").cast("double") / (F.col("n") * F.lit(1e6))).alias("m"),
        )
    )
    return per_dim.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s.getField("m"),
        ).alias("centroid")
    )


def _assign(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """(doc, cid, csim): nearest centroid by 6dp-rounded cosine, exact
    ties to the LOWEST cluster id — via the repo's min(struct) argmax
    (map-side combinable), never a per-doc window. ``+ 0.0`` normalizes
    any -0.0 the rounding produces, so the negated sort key cannot
    diverge from the oracle's ``ORDER BY sim DESC`` (IEEE sorts
    -0.0 < 0.0; SQL comparison treats them equal)."""
    # per-row norms below the join (round-7, see cosine_topk): ||v||
    # once per doc, ||centroid|| once per centroid — the k-way argmax
    # folds one dot per (doc, cid) instead of three aggregates. Same
    # sqrt, same product order as ``_norm(v) * _norm(centroid)``.
    cn = cents.withColumn("_nc", _norm(F.col("centroid")))
    sim = (
        F.round(
            _dot(F.col("v"), F.col("centroid"))
            / (F.col("_nv") * F.col("_nc")),
            6,
        )
        + F.lit(0.0)
    )
    best = (
        pts.withColumn("_nv", _norm(F.col("v")))
        .crossJoin(F.broadcast(cn))
        .select(
            "doc", F.struct((-sim).alias("ns"), F.col("cid").alias("cid")).alias("sc")
        )
        .groupBy("doc")
        .agg(F.min("sc").alias("sc"))
    )
    return best.select(
        "doc",
        F.col("sc.cid").alias("cid"),
        (-F.col("sc.ns") + F.lit(0.0)).alias("csim"),
    )


#: Row bound for the driver-side k-means fit: below it the (already
#: filtered) point set is collected and Lloyd's runs in numpy with the
#: SAME integer-quantized sums, fold-order dots, and half-up roundings
#: as the distributed plan — bit-identical centroids, one collect
#: instead of ~2 + 3·iters checkpoint/aggregate rounds. 50k rows of
#: 768-dim doubles ≈ 300 MB driver-side, the cosine_topk posture.
DRIVER_KMEANS_MAX_ROWS = 50_000


def _round6_py(x: float) -> float:
    """Bit-exact Python twin of Spark's ``F.round(double, 6)``
    (BigDecimal HALF_UP over the shortest decimal repr — Python's
    ``repr`` produces the same shortest form; fuzz-verified on 200k
    draws incl. half-boundary neighborhoods)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _kmeans_fit_driver(rows, k: int, iters: int):
    """Driver twin of the Lloyd's loop for a bounded point set.

    Exactness contract (every step mirrors the plan op-for-op):
    quantization = half-away ``round(v*1e6)`` (fuzz-matched to
    ``F.round(x, 0)``); centroid mean = ``float(Σqv) / (n * 1e6)``;
    dots/norms accumulate PER DIMENSION in index order — the same
    left-to-right fold ``_dot`` evaluates — vectorized over rows only;
    sim = ``round6(dot/(nv*nc)) + 0.0`` with ties to the lowest cid.
    Returns [(cid, [centroid floats])]."""
    import numpy as np

    if not rows:
        return []
    rows = sorted(rows, key=lambda r: r[0])  # init = k lowest ids
    V = np.array([r[1] for r in rows], dtype=np.float64)
    n, dim = V.shape
    QV = np.where(
        V * 1e6 >= 0, np.floor(V * 1e6 + 0.5), np.ceil(V * 1e6 - 0.5)
    ).astype(np.int64)

    def seq_dot(A, B):
        # per-dimension accumulation = the HOF fold's add order
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * B[:, j]
        return acc

    nv = np.sqrt(seq_dot(V, V))

    def centroids_of(member_cids):
        cents = {}
        for cid in sorted(set(member_cids.tolist())):
            mask = member_cids == cid
            m = int(mask.sum())
            s = QV[mask].sum(axis=0, dtype=np.int64)
            cents[cid] = s.astype(np.float64) / (m * 1e6)
        return cents

    # init: each of the k lowest-id docs is its own single-member
    # cluster, so c0[cid] = qv / 1e6 exactly
    cents = {cid: QV[cid].astype(np.float64) / 1e6 for cid in range(min(k, n))}
    for _ in range(max(0, int(iters))):
        cids = sorted(cents)
        C = np.array([cents[c] for c in cids], dtype=np.float64)
        nc = np.sqrt(seq_dot(C, C))
        if not np.all(nc > 0):
            # a zero-norm centroid has no cosine direction — defer the
            # (astronomically rare) degenerate case to the distributed
            # path rather than replicate its NaN ordering here
            return None
        best_cid = np.full(n, cids[0], dtype=np.int64)
        best_sim = np.full(n, -np.inf)
        for ci, cid in enumerate(cids):
            denom = nv * nc[ci]
            dots = seq_dot(V, np.broadcast_to(C[ci], V.shape))
            sims = np.array(
                [_round6_py(d / dn) + 0.0 for d, dn in zip(dots, denom)]
            )
            better = sims > best_sim  # strict: ties keep the LOWER cid
            best_sim[better] = sims[better]
            best_cid[better] = cid
        cents = centroids_of(best_cid)
    return [(int(c), [float(x) for x in cents[c]]) for c in sorted(cents)]


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    materialize: str = "local",
    driver_max_rows: int | None = None,
) -> DataFrame:
    """Deterministic Lloyd's k-means over an embedding column; returns
    the centroid table (cid int, centroid array<double>).

    Pinned semantics (three-engine reproducible — the SQL twin unrolls
    the same iterations):

    - corpus = rows with a non-null, non-zero-norm vector (cosine metric:
      a zero vector has no direction; it is excluded from fit and gets a
      NULL cluster from :func:`kmeans_assign`);
    - init: the ``k`` lowest-id vectors, micro-quantized (cid = rank by
      id, 0-based) — deterministic and restart-stable, no RNG state;
    - each iteration: assign all points to the max-cosine centroid (6dp,
      ties to the lowest cid), recompute centroids from exact integer
      sums; an emptied cluster drops out (standard Lloyd's);
    - exactly ``iters`` iterations — no convergence probe, so re-runs and
      the oracle agree by construction.

    Scale shape: per iteration, one broadcast crossJoin (corpus × k
    centroids — narrow, no corpus shuffle) + one partial-combinable
    (cid, pos) aggregate over rows × dim scalars; centroids are
    re-materialized per iteration (``materialize`` policy as elsewhere)
    so iteration k never replays 1..k-1. This is the offline-index job
    whose output ivf_topk/semdedup consume; it shuffles rows × dim
    scalars ``iters`` times and nothing else.
    """
    from datacurator_jl_spark.operators.dedup import _materialize

    if k < 1:
        raise ValueError(f"kmeans_fit needs k >= 1, got {k}")
    if iters < 0:
        raise ValueError(f"kmeans_fit needs iters >= 0, got {iters}")
    pts = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v"))
        .filter(_dot(F.col("v"), F.col("v")) > 0)
    )
    # round-7 scale-adaptive route (the driver-components pattern): a
    # bounded limit-probe sends small point sets to the bit-identical
    # numpy twin — one collect instead of ~2 + 3·iters checkpoint/
    # aggregate rounds (measured: 2.0 s -> ~0.4 s at sf0.1). ``None``
    # reads the module default; 0 disables the driver path.
    limit = (
        DRIVER_KMEANS_MAX_ROWS if driver_max_rows is None else driver_max_rows
    )
    if limit and pts.limit(int(limit) + 1).count() <= limit:
        rows = [(r["doc"], list(r["v"])) for r in pts.collect()]
        fitted = _kmeans_fit_driver(rows, k, iters)
        if fitted is not None:
            return df.sparkSession.createDataFrame(
                fitted, "cid int, centroid array<double>"
            )
    pts = _materialize(pts, materialize)
    qt = _materialize(_quantized_dims(pts), materialize)
    init = (
        pts.select("doc")
        .orderBy("doc")
        .limit(k)
        .withColumn(
            "cid", F.row_number().over(Window.orderBy("doc")) - F.lit(1)
        )
    )  # k-row frame: the single-partition window is bounded by k
    cents = _centroids_of(qt, init)
    for _ in range(max(0, int(iters))):
        members = _assign(pts, cents).select("doc", "cid")
        cents = _materialize(_centroids_of(qt, members), materialize)
    return cents


def kmeans_assign(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    sim_col: str = "csim",
) -> DataFrame:
    """Label every row of ``df`` with its nearest centroid: appends
    (cluster, csim 6dp); rows with a null or zero-norm vector get NULL
    for both (they have no cosine direction). One broadcast crossJoin +
    one min(struct) argmax — no corpus shuffle beyond the argmax's
    partial-combinable aggregate. Feeds ``cluster_col`` straight into
    :func:`semdedup_survivors` / :func:`ivf_topk` for a label-free
    end-to-end semantic dedup."""
    pts = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v"))
        .filter(_dot(F.col("v"), F.col("v")) > 0)
    )
    # collision-proof join-key name (the _rank_capped `_grp_` pattern):
    # drop("doc") would delete a caller column that happens to be named
    # doc from the labeled output
    a = _assign(pts, cents).select(
        F.col("doc").alias("_km_doc"),
        F.col("cid").alias(cluster_col),
        F.col("csim").alias(sim_col),
    )
    return df.join(a, df[id_col] == a["_km_doc"], "left").drop("_km_doc")


def semdedup_survivors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.95,
    max_cluster: int | None = 100_000,
    materialize: str = "local",
    max_broadcast_rows: int | None = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    exact cosine WITHIN embedding clusters, keeping the duplicate-group
    member FURTHEST from its cluster centroid (the paper's
    keep-the-outlier rule — it preserves diversity where min-id would
    keep an arbitrary member).

    Rule, pinned (the pairwise form — deterministic and join-expressible,
    no clique recursion): a doc is dropped iff some same-cluster doc
    with over-``threshold`` cosine has STRICTLY lower (centroid-sim,
    id) — i.e. every over-threshold pair drops its
    closer-to-centroid member (id breaks exact 6dp ties). Chains (a~b,
    b~c, a!~c) therefore drop conservatively toward the furthest
    member. Docs with a NULL cluster or vector never pair and always
    survive; centroid similarities are rounded to 6dp so both engines
    rank identically.

    Scale shape — the same bounded-block family as every pair op here:
    centroids are one explode+groupBy (rows x dim scalars) and ride as
    a broadcast; the pair join is a cluster equi-join with
    ``_drop_over_cap`` capping degenerate clusters on ONE side (caller
    materialization contract as in lsh_candidate_pairs); losers
    anti-join the corpus by id. The clusters themselves come from the
    corpus' ``cluster_col`` (production: offline k-means ids, the IVF
    posture) — this operator never builds an n² term.
    """
    from datacurator_jl_spark.operators.dedup import _drop_over_cap, _materialize

    e = _materialize(
        corpus.filter(
            F.col(cluster_col).isNotNull() & F.col(vec_col).isNotNull()
        ).select(
            F.col(id_col).alias("doc"),
            F.col(cluster_col).alias("clu"),
            F.col(vec_col).alias("v"),
        ),
        materialize,
    )
    cents = centroids_by(
        e.select(F.col("clu").alias(cluster_col), F.col("v").alias(vec_col)),
        cluster_col,
        vec_col,
    ).select(F.col(cluster_col).alias("clu"), "centroid")
    # materialize cs too (round-7, ADVICE r6): it feeds THREE consumers
    # (the cap's count aggregate, the capped a-side, and the uncapped
    # b-side) — un-materialized, each re-ran the e scan and the per-doc
    # centroid-cosine projection (broadcast-exchange reuse only shares
    # the centroid side). One checkpoint = one cosine pass. The
    # checkpoint also carries ``nv`` = ||v|| (round-7, guide §1.2 step
    # 2): the pair similarity below then evaluates ONE interpreted HOF
    # fold per pair (the dot) instead of three — the norms were being
    # re-folded for every pair a row appears in. Bit-identical:
    # ``sqrt(dot(v,v))`` is the same IEEE value whether computed per
    # row or per pair, and ``na * nb`` is the same product the old
    # ``_norm(a)*_norm(b)`` built.
    cs = _materialize(
        e.join(F.broadcast(cents), "clu").select(
            "doc", "clu", "v",
            F.round(cosine(F.col("v"), F.col("centroid")), 6).alias("cs"),
            _norm(F.col("v")).alias("nv"),
        ),
        materialize,
    )
    # bounded-count broadcast probe (round-7, the cosine_topk pattern):
    # cs is already materialized, so the row probe is a cheap cached
    # scan. When the corpus side fits comfortably, broadcasting it —
    # and the cap's under-cap key set, which the same probe bounds —
    # keeps the pair join's PROBE side on its input partitioning: a few
    # distinct cluster ids would otherwise cap a sort-merge join's
    # parallelism at the cluster count (measured: e10's 6-cluster SMJ
    # ran its 330k interpreted pair-cosines in ≤6 tasks, 11 s; the
    # cap's own semi join serialized the pair stage the same way when
    # the checkpoint's origin stats were unknown). At 100-TB scale the
    # probe exceeds the cap, nothing is broadcast, and the
    # cluster-keyed SMJ parallelizes over the (many) cluster ids.
    small = (
        max_broadcast_rows is not None
        and cs.limit(int(max_broadcast_rows) + 1).count() <= max_broadcast_rows
    )
    a = (
        _drop_over_cap(cs, ["clu"], max_cluster, broadcast_ok=small)
        if max_cluster
        else cs
    ).alias("a")
    b = F.broadcast(cs.alias("b")) if small else cs.alias("b")
    sim = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv")), 6
    )
    pairs = (
        a.join(
            b,
            (F.col("a.clu") == F.col("b.clu"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .filter(sim >= float(threshold))
        .select(
            F.col("a.doc").alias("doc_a"), F.col("a.cs").alias("cs_a"),
            F.col("b.doc").alias("doc_b"), F.col("b.cs").alias("cs_b"),
        )
    )
    # the join pins doc_a < doc_b, so on an exact 6dp centroid-sim tie
    # the greater id (b) is the loser — which IS the (cs, id) rule
    closer_is_a = F.col("cs_a") > F.col("cs_b")
    # materialize the loser set (round-7): the anti join is its only
    # consumer, but a checkpointed loser table makes the broadcast probe
    # below a cached scan — and when the losers fit, a broadcast
    # LeftAnti skips shuffling the CORPUS side entirely (at 100 TB the
    # drop set is usually a small fraction of the corpus; past the cap
    # the plan falls back to the sort-merge anti join unchanged).
    losers = _materialize(
        pairs.select(
            F.when(closer_is_a, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("loser")
        ).distinct(),
        materialize,
    )
    lj = losers
    if (
        max_broadcast_rows is not None
        and losers.limit(int(max_broadcast_rows) + 1).count()
        <= max_broadcast_rows
    ):
        lj = F.broadcast(losers)
    return corpus.join(
        lj, corpus[id_col] == losers["loser"], "left_anti"
    )
