"""Structured Streaming parity tests: the same compiled pipeline over
readStream must produce identical labels as the batch path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datacurator_jl_spark.engine import Pipeline
from datacurator_jl_spark.streaming.stream import (
    hourly_rollup_stream,
    quality_filter_stream,
    read_events_stream,
)


@pytest.fixture(scope="module")
def docs_dir(spark, docs_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "docs")
    docs_df.drop("category").write.mode("overwrite").parquet(path)
    return path


def _run_stream_to_memory(sdf, name, mode="append"):
    q = sdf.writeStream.format("memory").queryName(name).outputMode(mode).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    return q


def test_quality_filter_stream_matches_batch(spark, docs_dir, flagship_spec):
    sdf = quality_filter_stream(spark, docs_dir, flagship_spec)
    _run_stream_to_memory(
        sdf.select("url", "dc_kept", "dc_rule_id", "scrubbed_text"), "qstream"
    )
    got = {
        r.url: (r.dc_kept, r.dc_rule_id, r.scrubbed_text)
        for r in spark.sql("select * from qstream").collect()
    }
    batch = Pipeline(flagship_spec).apply(spark.read.parquet(docs_dir))
    exp = {
        r.url: (r.dc_kept, r.dc_rule_id, r.scrubbed_text)
        for r in batch.df.select("url", "dc_kept", "dc_rule_id", "scrubbed_text").collect()
    }
    assert got == exp


def test_hourly_rollup_stream_matches_batch(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ev") / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.mode(
        "overwrite"
    ).parquet(path)
    sdf = hourly_rollup_stream(read_events_stream(spark, path))
    _run_stream_to_memory(sdf, "evstream", mode="complete")
    got = {
        (r.hour, r.event_type): (r.n, r.total_value)
        for r in spark.sql("select * from evstream").collect()
    }
    ev = spark.read.parquet(path)
    exp_df = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )
    exp = {(r.hour, r.event_type): (r.n, r.total_value) for r in exp_df.collect()}
    assert got == exp


def test_session_window_stream_runs(spark, tmp_path_factory):
    from datacurator_jl_spark.streaming.stream import session_window_stream

    path = str(tmp_path_factory.mktemp("ev2") / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.mode(
        "overwrite"
    ).parquet(path)
    sdf = session_window_stream(read_events_stream(spark, path))
    _run_stream_to_memory(sdf, "sessstream", mode="append")
    rows = spark.sql("select * from sessstream").collect()
    assert rows and all(r.n_events >= 1 for r in rows)


def test_streaming_dedup_first_wins(spark, tmp_path_factory):
    from datacurator_jl_spark.streaming.stream import streaming_dedup

    path = str(tmp_path_factory.mktemp("dup") / "docs")
    df = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", "a"), ("u1", "2024-01-01 00:05:00", "b"),
         ("u2", "2024-01-01 00:01:00", "c")],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema("url string, warc_ts timestamp, text string").parquet(path)
    _run_stream_to_memory(streaming_dedup(stream), "dedupstream")
    urls = [r.url for r in spark.sql("select url from dedupstream").collect()]
    assert sorted(urls) == ["u1", "u2"]


def test_domain_quota_stateful_operator(spark, docs_dir):
    from datacurator_jl_spark.streaming.stream import domain_quota_stream

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(docs_dir)
    _run_stream_to_memory(domain_quota_stream(stream, quota=5), "quotastream")
    import collections

    counts = collections.Counter(
        r.domain for r in spark.sql("select domain from quotastream").collect()
    )
    assert counts and all(v <= 5 for v in counts.values())
    # the Zipf-head mega-domains must be capped exactly at the quota
    assert counts["bigsite.com"] == 5


def test_round3_conditions_stream_matches_batch(spark, tmp_path_factory):
    """blocklist pre-pass (streaming-safe) + classifier/name-list
    conditions over readStream produce the batch path's labels."""
    from datacurator_jl_spark.recipe import parse_recipe

    path = str(tmp_path_factory.mktemp("r3s") / "docs")
    rows = [
        ("u1", "wholesome educational words " * 5),
        ("u2", ""),
        ("u3", "more plain text content here"),
        ("u-blocked", "never seen"),
    ]
    spark.createDataFrame(rows, "url string, text string").write.mode(
        "overwrite"
    ).parquet(path)
    spec = parse_recipe(
        {
            "global": {"act_on_success": True, "blocklist": ["u-blocked"]},
            "any": {
                "conditions": [
                    ["name_in_list", ["u3"]],
                    ["classifier_score_above", -1.0],
                ],
                "actions": ["drop", "keep"],
            },
        }
    )
    sdf = Pipeline(spec).apply(
        spark.readStream.schema("url string, text string").parquet(path)
    ).df
    _run_stream_to_memory(sdf.select("url", "dc_kept", "dc_rule_id"), "r3stream")
    got = {
        r.url: (r.dc_kept, r.dc_rule_id)
        for r in spark.sql("select * from r3stream").collect()
    }
    exp = {
        r.url: (r.dc_kept, r.dc_rule_id)
        for r in Pipeline(spec)
        .apply(spark.read.parquet(path))
        .df.select("url", "dc_kept", "dc_rule_id")
        .collect()
    }
    assert got == exp and "u-blocked" not in got and len(got) == 3


@pytest.mark.parametrize(
    "g",
    [
        {"keep_latest": ["warc_ts", "url"]},
        {"remove_boilerplate": 3},
        {"paragraph_dedup": True},
        {"remove_duplicated_spans": 5},
        {"dedup": "exact"},
        {"max_dup_ngram_fraction": 0.5},
        {"domain_cap": 2, "domain_cap_col": "url"},
        {"mixture": {"en": 1.0}, "mixture_total": 5, "mixture_col": "lang"},
    ],
    ids=[
        "keep_latest", "remove_boilerplate", "paragraph_dedup",
        "remove_duplicated_spans", "dedup", "max_dup_ngram_fraction",
        "domain_cap", "mixture",
    ],
)
def test_batch_only_prepass_rejects_stream(spark, docs_dir, g):
    """Every batch-only [global] pre-pass (the first key of ``g``) rejects
    a stream with a typed error naming the pass, before any micro-batch
    runs."""
    from datacurator_jl_spark.recipe import RecipeError, parse_recipe

    spec = parse_recipe(
        {
            "global": {"act_on_success": True, **g},
            "any": {"conditions": ["always"], "actions": ["keep"]},
        }
    )
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(docs_dir)
    with pytest.raises(RecipeError, match=f"{next(iter(g))} is batch-only"):
        Pipeline(spec).apply(stream)


def test_incremental_dedup_stream(spark, tmp_path_factory):
    """Micro-batches dedup against the accumulating persisted signature
    table: batch-2 dups of batch-1 survivors are dropped even though the
    batches never coexist in memory."""
    from datacurator_jl_spark.streaming.stream import incremental_dedup_stream

    root = tmp_path_factory.mktemp("incstream")
    src, sig, out, ckpt = (str(root / n) for n in ("src", "sig", "out", "ckpt"))
    import os

    os.makedirs(src)
    b1 = [
        ("u1", "the very first unique document body"),
        ("u2", "the very first unique document body"),  # intra-batch dup
        ("u3", "a second distinct piece of content"),
    ]
    spark.createDataFrame(b1, "url string, text string").write.parquet(
        os.path.join(src, "b1")
    )
    stream = spark.readStream.schema("url string, text string").parquet(
        src + "/*"
    )
    q = incremental_dedup_stream(stream, sig, out, ckpt)
    q.awaitTermination(120)
    kept1 = {r["url"] for r in spark.read.parquet(out).collect()}
    assert kept1 == {"u1", "u3"}
    # batch 2: a dup of an ADMITTED doc, and a fresh one
    b2 = [
        ("u4", "the very first unique document body"),  # dup of admitted u1
        ("u5", "entirely new third subject matter"),
    ]
    spark.createDataFrame(b2, "url string, text string").write.parquet(
        os.path.join(src, "b2")
    )
    q2 = incremental_dedup_stream(
        spark.readStream.schema("url string, text string").parquet(src + "/*"),
        sig, out, ckpt,
    )
    q2.awaitTermination(120)
    kept = {r["url"] for r in spark.read.parquet(out).collect()}
    assert kept == {"u1", "u3", "u5"}
    # the signature table now carries exactly the admitted docs
    sigs = {r["doc"] for r in spark.read.parquet(sig).collect()}
    assert sigs == {"u1", "u3", "u5"}


def test_incremental_dedup_stream_epoch_replay_is_idempotent(spark, tmp_path_factory):
    """Replaying an epoch (fresh checkpoint over the same source)
    overwrites its own _batch_id partition instead of appending
    duplicate survivors."""
    from datacurator_jl_spark.streaming.stream import incremental_dedup_stream

    root = tmp_path_factory.mktemp("increplay")
    src, sig, out = (str(root / n) for n in ("src", "sig", "out"))
    os.makedirs(src)
    spark.createDataFrame(
        [("u1", "replay me once"), ("u2", "replay me once")],
        "url string, text string",
    ).write.parquet(os.path.join(src, "b1"))
    for attempt in ("ckpt_a", "ckpt_b"):  # second run = simulated replay
        q = incremental_dedup_stream(
            spark.readStream.schema("url string, text string").parquet(src + "/*"),
            sig, out, str(root / attempt),
        )
        q.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    assert [r["url"] for r in rows] == ["u1"]  # exactly once, not twice


def test_incremental_dedup_stream_crash_resume(spark, tmp_path_factory):
    """Kill the ingest stream between epochs, restart against the SAME
    checkpoint + persisted signature table, and assert the survivor set
    is identical to an uninterrupted run (round-3 VERDICT item 5). The
    kill point is deliberately whenever the first epoch's sig partition
    lands — idempotent _batch_id partitions must converge from ANY kill
    point, including a replayed half-written epoch."""
    import time

    from datacurator_jl_spark.streaming.stream import incremental_dedup_stream

    root = tmp_path_factory.mktemp("inccrash")
    src = str(root / "src")
    os.makedirs(src)
    batches = [
        [("u1", "alpha content the first body"),
         ("u2", "alpha content the first body")],   # intra-batch dup
        [("u3", "alpha content the first body"),     # dup of admitted u1
         ("u4", "beta content the second body")],
        [("u5", "beta content the second body"),     # dup of admitted u4
         ("u6", "gamma content the third body")],
    ]
    for i, rows in enumerate(batches):
        # ONE part-file per batch dir: maxFilesPerTrigger=1 counts leaf
        # files, so a multi-part write would split a batch across epochs
        # (and make the intra-batch min-id winner nondeterministic)
        spark.createDataFrame(rows, "url string, text string").coalesce(
            1
        ).write.parquet(os.path.join(src, f"b{i}"))

    def reader():
        return (
            spark.readStream.schema("url string, text string")
            .option("maxFilesPerTrigger", 1)  # one source file per epoch
            .parquet(src + "/*")
        )

    # uninterrupted twin
    sig_u, out_u, ckpt_u = (str(root / n) for n in ("sig_u", "out_u", "ckpt_u"))
    q = incremental_dedup_stream(reader(), sig_u, out_u, ckpt_u)
    q.awaitTermination(180)
    expect = {r["url"] for r in spark.read.parquet(out_u).collect()}
    assert expect == {"u1", "u4", "u6"}

    # crashed run: stop as soon as the first epoch's signatures land
    sig_c, out_c, ckpt_c = (str(root / n) for n in ("sig_c", "out_c", "ckpt_c"))
    q = incremental_dedup_stream(reader(), sig_c, out_c, ckpt_c)
    deadline = time.time() + 120
    while time.time() < deadline and not os.path.isdir(
        os.path.join(sig_c, "_batch_id=0")
    ):
        time.sleep(0.05)
    q.stop()  # the kill — wherever processing happens to be
    q.awaitTermination(60)
    # restart from the same checkpoint; availableNow drains the rest
    q = incremental_dedup_stream(reader(), sig_c, out_c, ckpt_c)
    q.awaitTermination(180)
    got = {r["url"] for r in spark.read.parquet(out_c).collect()}
    assert got == expect
    sigs = {r["doc"] for r in spark.read.parquet(sig_c).collect()}
    assert sigs == expect


def test_compact_signature_table(spark, tmp_path_factory):
    """Round-4 maintenance op: per-epoch _batch_id partitions compact
    into one base partition; a restarted ingest pointed at the compacted
    table dedups identically."""
    from datacurator_jl_spark.streaming.stream import (
        compact_signature_table,
        incremental_dedup_stream,
    )

    root = tmp_path_factory.mktemp("compact")
    src = str(root / "src")
    os.makedirs(src)
    for i, rows in enumerate(
        # disjoint vocabularies: none may LSH-collide with another
        [[("u1", "alpha beta gamma delta")],
         [("u2", "epsilon zeta eta theta")],
         [("u3", "iota kappa lambda mu")]]
    ):
        spark.createDataFrame(rows, "url string, text string").coalesce(
            1
        ).write.parquet(os.path.join(src, f"b{i}"))
    sig, out = str(root / "sig"), str(root / "out")
    q = incremental_dedup_stream(
        spark.readStream.schema("url string, text string")
        .option("maxFilesPerTrigger", 1).parquet(src + "/*"),
        sig, out, str(root / "ckpt"),
    )
    q.awaitTermination(180)
    # three epochs -> three physical partitions
    parts = {p for p in os.listdir(sig) if p.startswith("_batch_id=")}
    assert len(parts) == 3
    sig2 = str(root / "sig_compacted")
    n = compact_signature_table(spark, sig, sig2)
    assert n == 3
    # the base partition id (-1) is unreachable by any stream epoch, so
    # a restarted ingest's dynamic overwrite can never clobber the base
    assert {p for p in os.listdir(sig2) if p.startswith("_batch_id=")} == {
        "_batch_id=-1"
    }
    # refuses to clobber an existing target (never compact in place)
    with pytest.raises(Exception):
        compact_signature_table(spark, sig, sig2)
    # new ingest against the compacted base: dups of compacted docs drop
    src2 = str(root / "src2")
    os.makedirs(src2)
    spark.createDataFrame(
        [("u4", "alpha beta gamma delta"), ("u5", "nu xi omicron pi rho")],
        "url string, text string",
    ).coalesce(1).write.parquet(os.path.join(src2, "b0"))
    q = incremental_dedup_stream(
        spark.readStream.schema("url string, text string").parquet(src2 + "/*"),
        sig2, str(root / "out2"), str(root / "ckpt2"),
    )
    q.awaitTermination(180)
    kept = {r["url"] for r in spark.read.parquet(str(root / "out2")).collect()}
    assert kept == {"u5"}
    # the compacted base SURVIVED the fresh stream's epoch 0 (the
    # round-4 review's state-loss scenario: a base written at
    # _batch_id=0 would have been dynamically overwritten here)
    sigs_after = {r["doc"] for r in spark.read.parquet(sig2).collect()}
    assert sigs_after == {"u1", "u2", "u3", "u5"}


def test_compact_signature_table_k_and_latest_wins(spark, tmp_path):
    """Compaction carries ALL mh lanes (k=16 is never truncated to 8)
    and resolves a re-ingested doc id to its LATEST admission's
    signature (max _batch_id), deterministically."""
    from datacurator_jl_spark.streaming.stream import compact_signature_table

    k = 16
    cols = "doc string, " + ", ".join(f"mh{i} long" for i in range(k))
    old_row = tuple(["d1"] + [100 + i for i in range(k)])
    new_row = tuple(["d1"] + [200 + i for i in range(k)])
    other = tuple(["d2"] + [300 + i for i in range(k)])
    sig = str(tmp_path / "sig")
    for bid, rows in ((0, [old_row, other]), (1, [new_row])):
        spark.createDataFrame(rows, cols).withColumn(
            "_batch_id", F.lit(bid)
        ).write.mode("append").partitionBy("_batch_id").parquet(sig)
    out = str(tmp_path / "out")
    assert compact_signature_table(spark, sig, out) == 2
    got = {r["doc"]: r["mh15"] for r in spark.read.parquet(out).collect()}
    assert got == {"d1": 200 + 15, "d2": 300 + 15}  # latest wins, lane 15 kept
    # a gap in the lanes is a corrupt table, not a silent truncation
    bad = spark.createDataFrame([("d", 1, 2)], "doc string, mh0 long, mh2 long")
    badp = str(tmp_path / "bad")
    bad.write.parquet(badp)
    with pytest.raises(ValueError, match="non-contiguous"):
        compact_signature_table(spark, badp, str(tmp_path / "bad_out"))


def test_incremental_exact_dedup_stream(spark, tmp_path_factory):
    """Exact-tier streaming ingest: batch-2 exact copies of admitted
    content are dropped via the persisted hash table; the table carries
    one hash per distinct admitted page."""
    from datacurator_jl_spark.streaming.stream import (
        incremental_exact_dedup_stream,
    )

    root = tmp_path_factory.mktemp("excstream")
    src, hsh, out, ckpt = (str(root / n) for n in ("src", "hsh", "out", "ckpt"))
    os.makedirs(src)
    b1 = [
        ("u1", "first page body"),
        ("u2", "first page body"),  # intra-batch exact dup
        ("u3", "second page body"),
    ]
    spark.createDataFrame(b1, "url string, text string").write.parquet(
        os.path.join(src, "b1")
    )
    q = incremental_exact_dedup_stream(
        spark.readStream.schema("url string, text string").parquet(src + "/*"),
        hsh, out, ckpt,
    )
    q.awaitTermination(120)
    assert {r["url"] for r in spark.read.parquet(out).collect()} == {"u1", "u3"}
    b2 = [
        ("u4", "first page body"),   # copy of admitted u1 -> dropped
        ("u5", "third page body"),   # fresh
    ]
    spark.createDataFrame(b2, "url string, text string").write.parquet(
        os.path.join(src, "b2")
    )
    q2 = incremental_exact_dedup_stream(
        spark.readStream.schema("url string, text string").parquet(src + "/*"),
        hsh, out, ckpt,
    )
    q2.awaitTermination(120)
    assert {r["url"] for r in spark.read.parquet(out).collect()} == {
        "u1", "u3", "u5"
    }
    hashes = spark.read.parquet(hsh).select("text_hash").collect()
    assert len(hashes) == 3 and len({r["text_hash"] for r in hashes}) == 3


def test_incremental_exact_stream_epoch_replay_is_idempotent(
    spark, tmp_path_factory
):
    """A replayed epoch must NOT be emptied by its own persisted hashes:
    the base read excludes the epoch's own _batch_id partition."""
    from datacurator_jl_spark.streaming.stream import (
        incremental_exact_dedup_stream,
    )

    root = tmp_path_factory.mktemp("excreplay")
    src, hsh, out = (str(root / n) for n in ("src", "hsh", "out"))
    os.makedirs(src)
    spark.createDataFrame(
        [("u1", "replay me once"), ("u2", "replay me once")],
        "url string, text string",
    ).write.parquet(os.path.join(src, "b1"))
    for attempt in ("ckpt_a", "ckpt_b"):  # second run = simulated replay
        q = incremental_exact_dedup_stream(
            spark.readStream.schema("url string, text string").parquet(
                src + "/*"
            ),
            hsh, out, str(root / attempt),
        )
        q.awaitTermination(120)
    assert {r["url"] for r in spark.read.parquet(out).collect()} == {"u1"}
    assert spark.read.parquet(hsh).count() == 1
