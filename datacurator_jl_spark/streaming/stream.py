"""Structured Streaming wrappers.

The reference is single-shot batch (SURVEY.md §2.8: no streaming), but a
web-scale ingest pipeline needs an incremental path: the SAME compiled
rule expressions run over ``readStream`` — the quality filter is a pure
narrow projection, so it applies to a stream unchanged; windowed rollups
add a watermark for late data.

Batch/stream parity is by construction: ``Pipeline.apply`` produces
deterministic per-row expressions, so a document gets the identical
keep/drop label in either mode (tested in tests/test_streaming.py via
the file source against the batch result).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datacurator_jl_spark.engine import Pipeline
from datacurator_jl_spark.recipe import RecipeSpec

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

DOCS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_events_stream(
    spark: SparkSession, path: str, schema: str = EVENTS_SCHEMA
) -> DataFrame:
    """File-source stream over a directory of parquet drops."""
    return spark.readStream.schema(schema).parquet(path)


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of queries.v01_hourly_rollup: tumbling 1h windows
    with a watermark so late events are folded in until the window
    finalizes; state is bounded by the watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_window_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization with native session windows (dynamic-gap
    state managed by Spark; the batch twin is queries.v02)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def streaming_dedup(
    docs: DataFrame, key_col: str = "url", watermark_col: str = "warc_ts"
) -> DataFrame:
    """Streaming exact-dedup: keep the first occurrence of each key —
    Structured Streaming's stateful dropDuplicates (state bounded by the
    watermark horizon). The custom-stateful-operator tier
    (applyInPandasWithState) is only needed when the built-in state
    shapes don't fit; first-wins dedup fits exactly."""
    return docs.withWatermark(watermark_col, "1 hour").dropDuplicates([key_col])


def _domain_precap(quota: int):
    """Per-partition, per-micro-batch admission cap: at most ``quota``
    rows per ``_domain``, in partition order. Stateless across batches —
    the global cap is still enforced by the stateful operator; this only
    bounds what reaches its shuffle."""

    def precap(batches):
        admitted: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            # null domains must still be capped (the stateful op groups
            # them too) — account for them under a sentinel key
            dom = pdf["_domain"].fillna("\x00<null-domain>")
            prior = dom.map(admitted).fillna(0).astype("int64")
            rank = dom.groupby(dom).cumcount()
            keep = ((prior + rank) < quota).values
            out = pdf[keep]
            for d, c in dom[keep].value_counts().items():
                admitted[d] = admitted.get(d, 0) + int(c)
            if len(out):
                yield out

    return precap


def domain_quota_stream(
    docs: DataFrame,
    quota: int,
    key_col: str = "url",
    domain_expr: Column | None = None,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: keep at most
    ``quota`` documents per domain ACROSS the whole stream (per-domain
    caps are a standard training-data diversity control that no built-in
    streaming state shape expresses — the applyInPandasWithState tier).

    State per domain = running count taken; Arrow-batched, one state row
    per group. Output: (domain, url) of admitted documents.

    Skew bound (round-3, VERDICT minor #3): the stateful groupBy routes
    every row of a domain to ONE state task, so a mega-domain would
    shuffle its full input there even though output is quota-capped. A
    stateless per-partition pre-cap admits at most ``quota`` rows per
    domain per input partition BEFORE the shuffle — lossless, because any
    row the global quota admits is by definition among the first
    ``quota`` arrivals of its domain within its own partition (admission
    order is preserved within each partition). Shuffle input per domain
    drops from O(domain size) to O(quota × partitions).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from datacurator_jl_spark.operators.skew import domain_of

    dom = domain_expr if domain_expr is not None else domain_of(F.col(key_col))
    tagged = docs.withColumn("_domain", dom).select("_domain", F.col(key_col).alias("_key"))
    tagged = tagged.mapInPandas(
        _domain_precap(quota), schema="_domain string, _key string"
    )

    def take_quota(key, pdfs, state):
        import pandas as pd

        taken = state.get[0] if state.exists else 0
        for pdf in pdfs:
            room = quota - taken
            if room <= 0:
                continue
            out = pdf.iloc[:room]
            taken += len(out)
            if len(out):
                yield pd.DataFrame(
                    {"domain": out["_domain"].values, "url": out["_key"].values}
                )
        state.update((taken,))

    return tagged.groupBy("_domain").applyInPandasWithState(
        take_quota,
        outputStructType="domain string, url string",
        stateStructType="taken int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quality_filter_stream(
    spark: SparkSession, path: str, spec: RecipeSpec, schema: str = DOCS_SCHEMA
) -> DataFrame:
    """The flagship quality filter over a document stream: identical
    compiled expressions as the batch path (pure projection — no state,
    no watermark needed). Sink pattern:

        result.writeStream.format("parquet")
              .option("checkpointLocation", ckpt).start(out)

    The checkpoint gives exactly-once file output and resume-on-restart
    (the streaming counterpart of the batch snapshot-resume story).
    """
    stream = spark.readStream.schema(schema).parquet(path)
    return Pipeline(spec).apply(stream).df


def domain_quota_batch(
    docs: DataFrame, quota: int, domain_col: str, order_col: str,
    salt_parts: int = 16,
) -> DataFrame:
    """Deterministic batch twin of ``domain_quota_stream``: admit the
    FIRST ``quota`` documents per domain by ``order_col`` (the stream
    admits in arrival order; the batch twin pins that order so the quota
    semantics are oracle-checkable).

    Two-phase salted cap (round-6, same proof as
    operators/sampling._rank_capped): phase 1 pre-caps each of
    ``salt_parts`` hash slices of a domain at ``quota`` — a mega-domain
    sorts across salt_parts tasks instead of one — and phase 2 ranks the
    <= salt_parts x quota survivors exactly; output identical for any
    ``salt_parts`` given a total order (``order_col`` unique per domain
    — ties make the admitted SET arbitrary among tied rows, exactly as
    the single-window variant already was). The streaming twin's
    per-partition pre-cap (``_domain_precap``) is the same idea with
    input partitions as slices."""
    if salt_parts and salt_parts > 1:
        sl = F.pmod(F.hash(F.col(order_col)), F.lit(int(salt_parts)))
        wp = Window.partitionBy(domain_col, sl).orderBy(order_col)
        docs = (
            docs.withColumn("_prn", F.row_number().over(wp))
            .filter(F.col("_prn") <= quota)
            .drop("_prn")
        )
    w = Window.partitionBy(domain_col).orderBy(order_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .drop("_rn")
    )


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """The standing state table of an ingest stream, or None before its
    first epoch has written it.

    FS-agnostic bootstrap (``path`` is S3/HDFS in production, so no
    os.path probing): ONLY a missing-path read means "empty state" —
    any other failure (transient S3 error, schema mismatch with the
    persisted table) raises, or the batch would be admitted wholesale
    against an empty corpus: silent, permanent duplicate contamination."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
            raise
        return None


def _write_epoch(batch_id: int, writes: list[tuple[DataFrame, str]]) -> None:
    """Write each (frame, directory) of one micro-batch into its
    ``_batch_id=N`` partition with DYNAMIC partition overwrite, so a
    replayed epoch overwrites its own partitions instead of appending
    duplicates — idempotent per epoch, the parquet analogue of an
    Iceberg/Delta transactional batch-id sink. The session's overwrite
    mode is restored afterwards."""
    spark = writes[0][0].sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    old_mode = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        for frame, path in writes:
            frame.withColumn("_batch_id", F.lit(int(batch_id))).write.mode(
                "overwrite"
            ).partitionBy("_batch_id").parquet(path)
    finally:
        spark.conf.set(key, old_mode)


def incremental_dedup_stream(
    docs: DataFrame,
    sig_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
):
    """Streaming ingest dedup: each micro-batch is near-deduped against
    the PERSISTED signature table of everything admitted so far
    (operators/dedup.incremental_near_dup_survivors), survivors are
    appended to ``out_dir`` and their signatures to ``sig_dir`` — the
    standing-corpus ingest posture as a stream.

    ``foreachBatch`` is the right tier here (not a stateful operator):
    the dedup state is the signature TABLE — k bigints per admitted doc,
    shared with batch jobs, restartable, inspectable — not per-key
    operator state, and the LSH join against it is a batch join per
    micro-batch. Replay safety: both sinks write through
    ``_write_epoch`` (one ``_batch_id=N`` partition per epoch, dynamic
    partition overwrite). (A replayed epoch also
    re-reads a signature table that already contains its own prior
    write; self-pairs are excluded by ``a.doc < b.doc`` never matching
    doc==doc, and a true duplicate of the replayed doc under a
    DIFFERENT id would have been dropped in the first run — so the
    overwrite converges to the same survivor set.) Within a micro-batch
    the same component semantics as the batch op apply (min-id new doc
    wins); ACROSS micro-batches admission order decides, like every
    streaming dedup. Returns the StreamingQuery.
    """
    from datacurator_jl_spark.operators.dedup import (
        incremental_near_dup_survivors,
        signature_table,
    )

    def step(batch: DataFrame, batch_id: int) -> None:
        raw = _read_state(batch.sparkSession, sig_dir)
        if raw is None:
            base = signature_table(batch.limit(0), id_col, text_col, k)
        else:
            # raises if the persisted table was written with a smaller k
            base = raw.select("doc", *[f"mh{i}" for i in range(k)])
        kept = incremental_near_dup_survivors(
            batch, base, id_col, text_col, k=k, bands=bands
        ).localCheckpoint(eager=True)
        _write_epoch(
            batch_id,
            [(kept, out_dir), (signature_table(kept, id_col, text_col, k), sig_dir)],
        )

    return (
        docs.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def incremental_exact_dedup_stream(
    docs: DataFrame,
    hash_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    normalized: bool = False,
):
    """Streaming ingest EXACT dedup — the exact tier of
    ``incremental_dedup_stream``: each micro-batch collapses its
    within-batch duplicates and anti-joins the PERSISTED hash table of
    everything admitted so far (operators/dedup.
    incremental_exact_survivors, base side semi-pruned on the batch's
    hashes); survivors are appended to ``out_dir`` and their distinct
    content hashes to ``hash_dir`` — ~32 bytes per admitted page is the
    whole standing state, shared with batch jobs and inspectable.

    Same ``foreachBatch`` + ``_write_epoch`` idempotency as the near-dup
    stream, with one exact-tier twist: a
    replayed epoch re-reads a hash table that already contains its OWN
    prior write, and unlike the near-dup tier (where self-pairs are
    excluded by id), a doc's own hash would drop it on replay —
    silently emptying the partition. The base read therefore EXCLUDES
    the current epoch's ``_batch_id`` partition (partition pruning
    makes this a metadata-only skip), so a replay recomputes exactly
    the first run's survivor set. ``normalized=True`` dedups on the
    whitespace/case-normalized fingerprint instead of the raw text."""
    from datacurator_jl_spark.operators.dedup import (
        exact_hash_table,
        incremental_exact_survivors,
    )

    def step(batch: DataFrame, batch_id: int) -> None:
        raw = _read_state(batch.sparkSession, hash_dir)
        if raw is None:
            base = batch.sparkSession.createDataFrame([], "text_hash string")
        else:
            base = raw.filter(F.col("_batch_id") != int(batch_id)).select(
                "text_hash"
            )
        kept = incremental_exact_survivors(
            batch, base, id_col, text_col, normalized=normalized
        ).localCheckpoint(eager=True)
        _write_epoch(
            batch_id,
            [(kept, out_dir), (exact_hash_table(kept, text_col, normalized), hash_dir)],
        )

    return (
        docs.writeStream.foreachBatch(step)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_signature_table(
    spark: SparkSession, sig_dir: str, out_dir: str
) -> int:
    """Compact the incremental-dedup signature table into one base
    partition — the maintenance op the standing-corpus design needs: the
    streaming sink writes one ``_batch_id=N`` parquet partition per
    epoch, so a long-lived ingest accrues thousands of small partitions
    that every future LSH join must list and scan.

    Protocol (the parquet twin of Iceberg's ``rewrite_data_files`` +
    ``expire_snapshots``): read the whole table, auto-detect its
    ``mh0..mh{k-1}`` lanes (ALL lanes are carried — compacting a k=16
    table must never silently truncate it to a weaker signature), keep
    ONE row per doc — the LATEST admission wins (max ``_batch_id``; a
    re-ingested id whose text changed enough to survive dedup has a
    different signature, and the current corpus state is the newer one;
    this max-struct aggregate is deterministic AND map-side combinable) —
    and write a fresh table at ``out_dir`` under a single
    ``_batch_id=-1`` base partition. ``-1`` is unreachable by any
    stream epoch (batch ids start at 0), so a restarted ingest's dynamic
    partition overwrite can NEVER clobber the compacted base — writing
    it at 0 would let a fresh checkpoint's first epoch silently destroy
    the whole dedup state. The write REFUSES to overwrite
    (mode='error'): the caller swaps the configured sig_dir to
    ``out_dir`` once the write commits, keeping the old table until then
    (never compact in place — a crash mid-rewrite must not lose the only
    copy of the dedup state).

    Returns the number of compacted signature rows.
    """
    import re

    raw = spark.read.parquet(sig_dir)
    mh_cols = sorted(
        (c for c in raw.columns if re.fullmatch(r"mh\d+", c)),
        key=lambda c: int(c[2:]),
    )
    if "doc" not in raw.columns or not mh_cols:
        raise ValueError(
            f"compact_signature_table: {sig_dir} has no doc/mh* columns "
            "— not a signature table"
        )
    if [int(c[2:]) for c in mh_cols] != list(range(len(mh_cols))):
        raise ValueError(
            f"compact_signature_table: non-contiguous signature lanes "
            f"{mh_cols} in {sig_dir}"
        )
    bid = (
        F.col("_batch_id").cast("long")
        if "_batch_id" in raw.columns
        else F.lit(0).cast("long")
    )
    compacted = (
        raw.groupBy("doc")
        .agg(F.max(F.struct(bid.alias("_b"), *[F.col(c) for c in mh_cols])).alias("_w"))
        .select("doc", *[F.col(f"_w.{c}").alias(c) for c in mh_cols])
    )
    (
        compacted.withColumn("_batch_id", F.lit(-1))
        .write.mode("error")
        .partitionBy("_batch_id")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir).count()
