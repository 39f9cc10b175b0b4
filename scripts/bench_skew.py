#!/usr/bin/env python
"""Adversarial-skew bench (round-3 VERDICT item 4): measured evidence
that every skew guard turns a corpus with ONE mega-domain/mega-bucket —
the 100-TB failure mode — from an unbounded Σ bucket² pair join into a
bounded job.

Protocol: a seeded corpus with one mega-domain of ``--mega`` identical
short docs (every pair-generating op's worst case: one block = one LSH
bucket = one SRP bucket) plus a small healthy tail that must SURVIVE
every guard (the guards drop degenerate buckets, not the corpus). For
each guard we measure the capped wall time and ASSERT the row-count
contract; the uncapped cost is extrapolated from a measured mid-size
uncapped run of the same op (pairs/sec rate x mega-pair count) — running
the uncapped mega job for real would take hours, which is the point.

Writes the results table into BENCH.md between the skew markers and
prints a JSON summary. Usage:
    python scripts/bench_skew.py [--mega 200000] [--probe 3000] [--cores 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MARK_A = "<!-- skew-bench-start -->"
MARK_B = "<!-- skew-bench-end -->"


def build_corpus(spark, mega: int, tail: int):
    """mega identical docs in ONE domain + a tail of distinct docs over
    many domains, incl. one genuine near-dup pair that must survive."""
    from pyspark.sql import functions as F

    megadf = (
        spark.range(mega)
        .select(
            F.concat(F.lit("m"), F.col("id")).alias("doc_id"),
            F.lit("mega.example").alias("source"),
            F.lit("identical viral boilerplate page body text").alias("text"),
        )
    )
    taildf = (
        spark.range(tail)
        .select(
            F.concat(F.lit("t"), F.col("id")).alias("doc_id"),
            F.concat(F.lit("d"), (F.col("id") % 5000).cast("string"),
                     F.lit(".example")).alias("source"),
            # id-derived tokens so tail docs share ~nothing pairwise
            # (a shared-prose template would make every domain's docs
            # mutual near-dups and drown the survivor assertion)
            F.concat(
                F.lit("doc "),
                F.col("id"), F.lit("a "), F.col("id"), F.lit("b "),
                F.col("id"), F.lit("c "), F.col("id"), F.lit("d "),
                F.col("id"), F.lit("e "), F.col("id"), F.lit("f"),
            ).alias("text"),
        )
    )
    survivors = spark.createDataFrame(
        [
            ("s1", "small.example", "rare shared sentence appearing twice only"),
            ("s2", "small.example", "rare shared sentence appearing twice only"),
        ],
        "doc_id string, source string, text string",
    )
    return megadf.unionByName(taildf).unionByName(survivors)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mega", type=int, default=200_000)
    ap.add_argument("--tail", type=int, default=50_000)
    ap.add_argument("--probe", type=int, default=3_000,
                    help="uncapped probe block size for the rate measurement")
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--dup", type=int, default=2_000_000,
                    help="identical-copy count (~2 KB pages) for the "
                         "exact-dedup hot-key A/B")
    ap.add_argument("--bigdomain", type=int, default=10_000_000,
                    help="row count of the single domain for the "
                         "two-phase salted-cap guard")
    ap.add_argument("--basesigs", type=int, default=2_000_000,
                    help="accumulated-corpus signature count for the "
                         "incremental base-side-prune A/B")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from datacurator_jl_spark.operators import dedup as DD
    from datacurator_jl_spark.operators.sampling import group_cap_sample
    from datacurator_jl_spark.operators.similarity import srp_near_dup_pairs
    from datacurator_jl_spark.session import get_spark

    spark = get_spark("skew-bench", cores=args.cores)
    corpus = build_corpus(spark, args.mega, args.tail).localCheckpoint(eager=True)
    n = corpus.count()
    mega_pairs = args.mega * (args.mega - 1) // 2
    results: dict[str, dict] = {"corpus": {"rows": n, "mega": args.mega,
                                           "mega_pairs": mega_pairs}}

    # -- rate probe: UNCAPPED blocked jaccard on a mid-size block ------------
    probe = build_corpus(spark, args.probe, 0).filter(
        F.col("source") == "mega.example"
    ).localCheckpoint(eager=True)
    probe_pairs = args.probe * (args.probe - 1) // 2
    cnt, t_probe = timed(lambda: DD.ngram_jaccard_pairs(
        probe, "doc_id", "text", "source", 0.5,
        max_block=None, prefilter="none").count())
    assert cnt == probe_pairs, (cnt, probe_pairs)
    rate = probe_pairs / t_probe
    est_uncapped_h = mega_pairs / rate / 3600
    results["uncapped_probe"] = {
        "block": args.probe, "pairs": probe_pairs, "sec": t_probe,
        "pairs_per_sec": int(rate),
        "extrapolated_mega_hours": round(est_uncapped_h, 1),
    }

    # -- guard 1: d20 max_block drops the mega block wholesale ---------------
    pairs, t = timed(lambda: DD.ngram_jaccard_pairs(
        corpus, "doc_id", "text", "source", 0.5,
        max_block=10_000, prefilter="none").count())
    assert pairs == 1, pairs  # ONLY the s1/s2 survivor pair
    results["max_block"] = {"sec": t, "pairs": pairs}

    # -- guard 2: d19 LSH prefilter (mega docs share one bucket > cap) -------
    pairs, t = timed(lambda: DD.ngram_jaccard_pairs(
        corpus, "doc_id", "text", "source", 0.5,
        prefilter="lsh", lsh_max_bucket=10_000).count())
    assert pairs == 1, pairs
    results["lsh_prefilter"] = {"sec": t, "pairs": pairs}

    # -- guard 2b: auto mode must pick the LSH path above the threshold ------
    picked = DD._select_prefilter(n)
    assert picked == ("lsh" if n >= DD.AUTO_LSH_THRESHOLD else "none")
    # round-5 block-shape awareness: THIS corpus (mega block > default
    # max_block) routes to LSH regardless of total doc count
    picked_shape = DD._select_prefilter(
        n, max_block_count=args.mega, max_block=100_000
    )
    assert picked_shape == "lsh", picked_shape
    results["auto_select"] = {"n": n, "picked": picked,
                              "picked_block_shape": picked_shape,
                              "threshold": DD.AUTO_LSH_THRESHOLD}

    # -- guard 3: domain_cap bounds the mega domain's row count --------------
    capped, t = timed(lambda: group_cap_sample(
        corpus, "source", "doc_id", cap=1000))
    by_dom, t2 = timed(lambda: {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n"))
        .filter(F.col("n") > 100).collect()})
    assert by_dom.get("mega.example") == 1000, by_dom
    results["domain_cap"] = {"sec": round(t + t2, 2),
                             "mega_rows_kept": by_dom.get("mega.example")}

    # -- guard 3b: two-phase salted cap on a 10^7-row mega-domain (round 6) --
    # The exact window alone would sort all rows of the domain in ONE
    # task (Spark's WindowGroupLimit bounds constant caps to
    # cap x map_partitions residual rows — still one hot task at cluster
    # partition counts); _rank_capped's phase 1 splits the domain over
    # salt_parts slice-windows, phase 2 ranks <= salt_parts x cap rows.
    big = (
        spark.range(args.bigdomain)
        .select(
            F.concat(F.lit("b"), F.col("id")).alias("doc_id"),
            F.lit("mega.example").alias("source"),
        )
        .repartition(args.cores * 2)
        .localCheckpoint(eager=True)
    )
    kept_big, t = timed(lambda: group_cap_sample(
        big, "source", "doc_id", cap=1000).count())
    assert kept_big == 1000, kept_big
    results["domain_cap_10m"] = {"sec": t, "rows": args.bigdomain}

    # -- guard 4: SRP max_bucket (round-4) — one hot embedding bucket --------
    emb = corpus.select(
        "doc_id",
        F.when(F.col("source") == "mega.example",
               F.array(*[F.lit(1.0)] * 16))
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: F.hash(F.col("doc_id"), i).cast("double") / 2e9,
        )).alias("embedding"),
    ).localCheckpoint(eager=True)
    pairs, t = timed(lambda: srp_near_dup_pairs(
        emb, "doc_id", "embedding", 16, bits=16, bands=4,
        max_hamming=0, max_bucket=10_000).count())
    # the 200k-doc hot bucket is dropped; only tail hamming-0 twins remain
    assert pairs < args.mega, pairs
    results["srp_max_bucket"] = {"sec": t, "pairs": pairs}

    # -- guard 5: span removal on the mega corpus is LINEAR ------------------
    # every window of the 200k identical docs is duplicated -> all their
    # tokens are removed; cost is occurrences x window size, never pairs
    from datacurator_jl_spark.operators.span_dedup import (
        remove_duplicated_spans,
    )

    sd, t = timed(lambda: remove_duplicated_spans(
        corpus, "doc_id", "text", n=3, out_col="clean", validate_ids=False
    ).filter(F.col("clean").isNull()).count())
    assert sd >= args.mega  # the whole mega clique fully stripped
    results["span_dedup"] = {"sec": t, "fully_stripped_docs": sd}

    # -- guard 6: incremental ingest vs a signature table holding the --------
    # mega-bucket (round-5, VERDICT r4 next #8) — the standing-corpus
    # worst case: every new mega-dup doc would join the 200k-signature
    # hot bucket in EVERY band. max_bucket drops the degenerate bucket
    # before the join, bounding the ingest; the healthy-tail semantics
    # stay exact (a new dup of a base tail doc drops, fresh docs survive;
    # new docs landing ONLY in the dropped bucket survive by the
    # documented cap-drop recall trade, same contract as d19/d20).
    n_ingest_mega = min(args.mega // 10, 20_000)
    base_sigs, t_sig = timed(lambda: DD.signature_table(
        corpus, "doc_id", "text").localCheckpoint(eager=True))
    ingest = (
        spark.range(n_ingest_mega)
        .select(
            F.concat(F.lit("nm"), F.col("id")).alias("doc_id"),
            F.lit("mega.example").alias("source"),
            F.lit("identical viral boilerplate page body text").alias("text"),
        )
        .unionByName(spark.createDataFrame(
            [("ndup", "d42.example", "doc 42a 42b 42c 42d 42e 42f"),
             ("nfresh", "fresh.example",
              "entirely new unique words never seen before anywhere")],
            "doc_id string, source string, text string",
        ))
        .localCheckpoint(eager=True)
    )
    surv, t = timed(lambda: DD.incremental_near_dup_survivors(
        ingest, base_sigs, "doc_id", "text", max_bucket=10_000))
    kept = {r.doc_id for r in surv.select("doc_id").collect()}
    assert "nfresh" in kept and "ndup" not in kept, (len(kept))
    assert len(kept) == n_ingest_mega + 1, len(kept)  # cap-drop survivors
    uncapped_ingest_pairs = 4 * n_ingest_mega * (args.mega + n_ingest_mega)
    results["incremental_ingest"] = {
        "sec": t, "sig_table_sec": t_sig, "ingest_rows": n_ingest_mega + 2,
        "kept": len(kept),
        "uncapped_candidate_pairs": uncapped_ingest_pairs,
        "extrapolated_uncapped_hours": round(
            uncapped_ingest_pairs / rate / 3600, 1),
    }

    # -- guard 7: exact-dedup winners + semi-join-on-id vs the window --------
    # (round 6.) Two corpus shapes, ~2 KB pages (a crawl's duplicated
    # page is a PAGE, not a short string), full-row noop WRITES -- under
    # count() Catalyst prunes the text column out of the plans and
    # hides the payload cost entirely. The shipped plan (winners
    # hash-agg + left-semi join keyed on the unique id alone: one md5
    # pass, probe branch prunable, uniform join key, AQE-broadcastable
    # winner set) won BOTH shapes. The rank-1 row_number window is
    # bounded on THIS engine only because Spark >= 3.5's
    # WindowGroupLimit turns the constant rank-1 filter into a map-side
    # partial group-limit -- without that rule it is the single-reducer
    # death plan (every copy's full row through ONE task); it also
    # payload-sorts each partition and re-sorts after the exchange.
    # Earlier variants measured and rejected: (hash,id)-keyed semi join
    # (second full md5 pass: 16.8 s mega / 4.0 s unique) and a
    # min_by(struct) argmax (non-codegen SortAggregate: 6.5 / 7.0 s).
    n_dup = args.dup
    page = F.repeat(F.lit("identical viral boilerplate page body text "), 50)
    dup_corpus = (
        spark.range(n_dup)
        .select(
            F.concat(F.lit("x"), F.col("id")).alias("doc_id"),
            F.lit("mega.example").alias("source"),
            page.alias("text"),
        )
        .unionByName(corpus.filter(~F.col("doc_id").startswith("m")))
        .repartition(args.cores * 2)
        .localCheckpoint(eager=True)
    )
    expect = args.tail + 2  # tail + mega winner + s1/s2 winner

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    from pyspark.sql import Window

    def _window_variant(df):
        w = Window.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _ab(df, expect_rows):
        # min-of-2 per variant: this VM's run-to-run variance reaches
        # ~4x on identical code (compare the probe row across rounds),
        # so single draws rank variants by neighbor load, not by plan
        semi = DD.drop_exact_dupes(df, "doc_id", "text")
        assert semi.count() == expect_rows, expect_rows  # contract, untimed
        t_semi = min(timed(lambda: _noop(semi))[1] for _ in range(2))
        win = _window_variant(df)
        assert win.count() == expect_rows, expect_rows
        t_win = min(timed(lambda: _noop(win))[1] for _ in range(2))
        return t_semi, t_win

    t_semi_mega, t_win_mega = _ab(dup_corpus, expect)

    uniq_page = F.concat(page, F.lit(" v"), F.col("id").cast("string"))
    uniq_corpus = (
        spark.range(n_dup)
        .select(
            F.concat(F.lit("u"), F.col("id")).alias("doc_id"),
            F.lit("many.example").alias("source"),
            uniq_page.alias("text"),
        )
        .repartition(args.cores * 2)
        .localCheckpoint(eager=True)
    )
    t_semi_uniq, t_win_uniq = _ab(uniq_corpus, n_dup)
    results["exact_dedup_ab"] = {
        "dup_copies": n_dup,
        "mega": {"sec_semijoin": t_semi_mega, "sec_window": t_win_mega},
        "unique": {"sec_semijoin": t_semi_uniq, "sec_window": t_win_uniq},
    }

    # -- guard 8: incremental ingest base-side prune A/B (round 6) ----------
    # the steady-state ingest shape: a SMALL batch against a LARGE
    # accumulated signature table (here synthetic uniform signatures —
    # the healthy, non-skewed corpus; guard 6 covers the hot-bucket
    # case). Base-base pairs are excluded by construction, so the
    # shipped plan semi-joins the base bucket rows against the batch's
    # band-key set before the union/cap/pair join; the old full-union
    # shape shuffled every base bucket row into the cap count and the
    # pair join no matter how small the batch was. Output asserted
    # identical between the two shapes.
    from datacurator_jl_spark.operators.dedup import (
        _band_buckets, _drop_over_cap, _materialize, _propagate_min_labels,
    )

    n_base = args.basesigs
    shared_txt = "rare shared sentence appearing in base and batch"
    base_big = (
        spark.range(n_base)
        .select(
            F.concat(F.lit("b"), F.col("id")).alias("doc"),
            *[F.xxhash64(F.col("id"), F.lit(i)).alias(f"mh{i}")
              for i in range(8)],
        )
        .unionByName(DD.signature_table(spark.createDataFrame(
            [("bshare", shared_txt)], "doc_id string, text string"),
            "doc_id", "text"))
        .repartition(args.cores * 2)
        .localCheckpoint(eager=True)
    )
    batch = (
        spark.range(999)
        .select(
            F.concat(F.lit("nb"), F.col("id")).alias("doc_id"),
            # id-derived tokens ONLY: a shared template word would make
            # the batch docs mutual minhash candidates (word-unigram
            # shingles — 2 shared words of 6 is Jaccard 0.2, ~15% band
            # collision per pair) and the component-min pass would
            # thin the "fresh" docs it is asserting survive
            F.concat(
                F.col("id"), F.lit("xa "), F.col("id"), F.lit("xb "),
                F.col("id"), F.lit("xc "), F.col("id"), F.lit("xd"),
            ).alias("text"),
        )
        .unionByName(spark.createDataFrame(
            [("ndup2", shared_txt)], "doc_id string, text string"))
        .localCheckpoint(eager=True)
    )

    def _old_incremental(new_df, base_sigs, max_bucket=10_000):
        k, bands = 8, 4
        new_s = DD.signature_table(new_df, "doc_id", "text", k)
        tagged = base_sigs.select(
            "doc", *[f"mh{i}" for i in range(k)], F.lit(True).alias("is_base")
        ).unionByName(new_s.select(
            "doc", *[f"mh{i}" for i in range(k)], F.lit(False).alias("is_base")))
        buckets = _materialize(_drop_over_cap(
            _band_buckets(tagged, k, bands), ["band", "key"], max_bucket),
            "local")
        a, b = buckets.alias("a"), buckets.alias("b")
        pairs = (
            a.join(b, ["band", "key"])
            .filter((F.col("a.doc") < F.col("b.doc"))
                    & ~(F.col("a.is_base") & F.col("b.is_base")))
            .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
            .distinct())
        edges = _materialize(
            pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
            .unionAll(pairs.select(F.col("id_b").alias("src"),
                                   F.col("id_a").alias("dst"))), "local")
        labels = _materialize(
            base_sigs.select("doc", F.struct(
                F.lit(0).alias("rank"), F.col("doc").alias("id")).alias("comp"))
            .unionByName(new_df.select(F.col("doc_id").alias("doc")).distinct()
                         .select("doc", F.struct(
                             F.lit(1).alias("rank"),
                             F.col("doc").alias("id")).alias("comp"))), "local")
        labels = _propagate_min_labels(edges, labels, 25, "local")
        surv = labels.filter((F.col("comp.rank") == 1)
                             & (F.col("comp.id") == F.col("doc"))).select("doc")
        return new_df.join(surv, new_df["doc_id"] == surv.doc, "left_semi")

    kept_new, _ = timed(lambda: {
        r.doc_id for r in DD.incremental_near_dup_survivors(
            batch, base_big, "doc_id", "text", max_bucket=10_000
        ).select("doc_id").collect()})
    t_prune = min(timed(lambda: DD.incremental_near_dup_survivors(
        batch, base_big, "doc_id", "text", max_bucket=10_000
    ).count())[1] for _ in range(2))
    kept_old, _ = timed(lambda: {
        r.doc_id for r in _old_incremental(batch, base_big)
        .select("doc_id").collect()})
    t_old = min(timed(lambda: _old_incremental(batch, base_big).count())[1]
                for _ in range(2))
    assert kept_new == kept_old, (len(kept_new), len(kept_old))
    assert "ndup2" not in kept_new and len(kept_new) == 999, len(kept_new)
    results["incremental_base_prune"] = {
        "base_sigs": n_base, "batch_rows": 1000,
        "sec_pruned": t_prune, "sec_full_union": t_old,
    }

    # -- guard 9: winnow shared-passage hot fingerprint (round 6) -----------
    # the mega docs are IDENTICAL, so all of them carry the same single
    # winnowed fingerprint — one hot fp bucket = the boilerplate-passage
    # worst case (an fp equi-join over it would be mega² pairs through
    # ONE key). _drop_over_cap drops the key; the genuine s1/s2 shared
    # sentence (also a single shared fp) must be the ONLY surviving
    # pair: tail doc grams all contain the doc id, so tail fingerprints
    # never collide (60-bit hash space, ~5e5 fps -> collision odds 1e-7).
    from datacurator_jl_spark.operators.winnow import winnow_candidate_pairs

    w_pairs, t_winnow = timed(lambda: winnow_candidate_pairs(
        corpus, "doc_id", "text", k=3, w=4, min_shared=1, max_bucket=10_000
    ).collect())
    w_set = {(r["id_a"], r["id_b"]) for r in w_pairs}
    assert w_set == {("s1", "s2")}, sorted(w_set)[:5]
    results["winnow_hot_passage"] = {"sec": t_winnow, "pairs": len(w_set)}

    # -- guard 10: incremental EXACT dedup base-side prune A/B (round 6) ----
    # the standing corpus rides as a distinct-hash table; the shipped
    # plan LEFT-SEMI prunes it on the batch's hash set before the anti
    # join, so per-ingest shuffle volume tracks the batch (~1k hashes)
    # instead of the corpus (2M hashes through the anti-join exchange,
    # forever, on every ingest).
    from datacurator_jl_spark.operators.dedup import incremental_exact_survivors

    n_bh = 2_000_000
    base_h = (
        spark.range(n_bh)
        .select(
            F.md5(F.concat(F.lit("base page "), F.col("id").cast("string")))
            .alias("text_hash")
        )
        .localCheckpoint(eager=True)
    )
    exact_batch = spark.createDataFrame(
        [(f"f{i}", f"fresh doc {i} body") for i in range(998)]
        + [("dupA", "duplicated fresh body"), ("dupB", "duplicated fresh body"),
           ("re1", "base page 42")],
        "doc_id string, text string",
    ).localCheckpoint(eager=True)

    def _noprune_exact(new_df, bh):
        h = F.coalesce(F.md5(F.col("text")), F.lit("\x00"))
        hdf = new_df.withColumn("_h", h)
        winners = hdf.groupBy("_h").agg(F.min("doc_id").alias("k")).select("k")
        kept = hdf.join(winners, F.col("doc_id") == F.col("k"), "left_semi")
        return kept.join(bh, hdf["_h"] == bh["text_hash"], "left_anti").drop("_h")

    kept_exact, _ = timed(lambda: {
        r.doc_id for r in incremental_exact_survivors(
            exact_batch, base_h, "doc_id", "text"
        ).select("doc_id").collect()})
    t_exact = min(timed(lambda: incremental_exact_survivors(
        exact_batch, base_h, "doc_id", "text"
    ).count())[1] for _ in range(2))
    kept_noprune, _ = timed(lambda: {
        r.doc_id for r in _noprune_exact(exact_batch, base_h)
        .select("doc_id").collect()})
    t_noprune = min(timed(lambda: _noprune_exact(exact_batch, base_h).count())[1]
                    for _ in range(2))
    assert kept_exact == kept_noprune, (len(kept_exact), len(kept_noprune))
    assert "re1" not in kept_exact and "dupB" not in kept_exact
    assert len(kept_exact) == 999, len(kept_exact)
    results["incremental_exact_prune"] = {
        "base_hashes": n_bh, "batch_rows": 1001,
        "sec_pruned": t_exact, "sec_noprune": t_noprune,
    }

    # -- write BENCH.md section ---------------------------------------------
    section = f"""{MARK_A}
## Adversarial skew: one mega-domain vs every guard (rounds 4-6)

Seeded corpus: **{args.mega:,} identical docs in ONE domain** (= one
jaccard block = one LSH bucket = one SRP bucket = {mega_pairs:,.0f}
potential pairs) + {args.tail:,} healthy tail docs across 5,000 domains
+ one genuine near-dup pair (s1/s2) that must survive every guard.
Uncapped cost is extrapolated from a measured uncapped {args.probe:,}-doc
block ({probe_pairs:,} pairs in {t_probe} s = {int(rate):,} pairs/s on
{args.cores} cores).

| guard | wall (s) | output contract (asserted) | uncapped extrapolation |
|---|---|---|---|
| `max_block=10k` (d20) | {results['max_block']['sec']} | 1 pair — mega block dropped wholesale, survivor pair kept | ~{est_uncapped_h:,.0f} h for the mega block alone |
| `prefilter="lsh"` + `lsh_max_bucket=10k` (d19) | {results['lsh_prefilter']['sec']} | 1 pair — mega bucket over cap, dropped | same Σ bucket² blow-up |
| `prefilter="auto"` (rounds 4-5) | — | picks `{picked}` at {n:,} docs (threshold {DD.AUTO_LSH_THRESHOLD:,}); block-shape-aware since round 5: the {args.mega:,}-doc mega block > max_block routes to `{picked_shape}` regardless of count | n/a (selection guard) |
| `domain_cap=1000` | {results['domain_cap']['sec']} | mega domain capped at exactly 1,000 rows | unbounded head domain |
| `group_cap_sample` two-phase salted cap, ONE {args.bigdomain:,}-row domain (round 6) | {results['domain_cap_10m']['sec']} | exactly 1,000 rows kept; phase 1 splits the domain across 16 slice-windows (each sorts ~1/16th), phase 2 ranks ≤ 16,000 survivors — no task ever sorts the whole domain (WindowGroupLimit's residual alone is cap x map_partitions rows into one task at cluster partition counts) | single-task sort of 10⁷ rows |
| `srp max_bucket=10k` (round 4) | {results['srp_max_bucket']['sec']} | {results['srp_max_bucket']['pairs']:,} pairs — the 200k-doc hot bucket dropped; the remainder are genuine hamming-0 twins among the {args.tail:,} random tail embeddings (16-bit signature space → expected birthday collisions), bounded by tail bucket sizes | ~{est_uncapped_h:,.0f} h |
| `remove_duplicated_spans` (d43, round 4) | {results['span_dedup']['sec']} | {results['span_dedup']['fully_stripped_docs']:,} docs fully stripped — cost linear in window occurrences (agg + equi-join), no pair term at all | n/a (structurally linear) |
| `incremental ingest` vs mega signature table (d28 path, round 5) | {results['incremental_ingest']['sec']} | {n_ingest_mega:,} mega-dup ingest rows against a {args.mega:,}-signature hot bucket: fresh doc kept, base-dup dropped, over-cap bucket dropped before the join ({results['incremental_ingest']['kept']:,} kept, asserted) | ~{results['incremental_ingest']['extrapolated_uncapped_hours']:,} h ({uncapped_ingest_pairs / 1e9:.1f}B band-candidate pairs) |
| incremental ingest base-side prune A/B (round 6) | {results['incremental_base_prune']['sec_pruned']} (pruned) vs {results['incremental_base_prune']['sec_full_union']} (full union) | 1,000-doc batch vs a {results['incremental_base_prune']['base_sigs']:,}-signature healthy corpus, min-of-2, outputs asserted identical (999 fresh kept, base-dup dropped). The shipped plan LEFT-SEMI prunes base bucket rows on the batch's band-key set before the union/cap/pair join (sound because base-base pairs are excluded by construction), so the accumulated corpus never shuffles into the pair join — ingest cost tracks the BATCH size; the old full-union shape shuffled every base bucket row through the cap count and the pair join on every ingest, scaling with the CORPUS | full-union shape: O(corpus) shuffle per ingest, forever |
| incremental EXACT dedup base-side prune A/B (d55, round 6) | {results['incremental_exact_prune']['sec_pruned']} (pruned) vs {results['incremental_exact_prune']['sec_noprune']} (no prune) | 1,001-doc batch vs a {results['incremental_exact_prune']['base_hashes']:,}-hash standing corpus, min-of-2, outputs asserted identical (999 kept: re-crawled base copy dropped, within-batch dupe collapses). The shipped plan semi-prunes the base hash table on the batch's hash set before the anti join, so only batch-sized key sets shuffle — the no-prune shape drags all {results['incremental_exact_prune']['base_hashes']:,} hashes through the anti-join exchange on EVERY ingest | O(corpus) shuffle per ingest, forever |
| winnow shared-passage hot fp (d51/d52, round 6) | {results['winnow_hot_passage']['sec']} | the {args.mega:,} identical mega docs all collapse to ONE winnowed fingerprint — the boilerplate-passage worst case, {mega_pairs:,} potential pairs through one fp key; `_drop_over_cap` (max_bucket=10k) drops the degenerate KEY and the genuine s1/s2 shared sentence is asserted to be the ONLY surviving pair | mega² pairs through one join key |
| `drop_exact_dupes` winners + semi-join-on-id A/B (round 6) | {results['exact_dedup_ab']['unique']['sec_semijoin']} (unique) / {results['exact_dedup_ab']['mega']['sec_semijoin']} (mega-dup) | {n_dup:,} ~2 KB pages, two shapes, min-of-2 full-row noop writes, row contracts asserted. Shipped plan vs rank-1 window: unique {results['exact_dedup_ab']['unique']['sec_semijoin']} s vs {results['exact_dedup_ab']['unique']['sec_window']} s; mega-dup {results['exact_dedup_ab']['mega']['sec_semijoin']} s vs {results['exact_dedup_ab']['mega']['sec_window']} s — across repeated A/Bs the two are within this VM's run-to-run noise of each other (the box varies up to ~4x between runs of identical code), so the choice is STRUCTURAL: the winners agg is payload-free and map-side combinable, the semi join keys on the unique id (uniform shuffle on any engine — no reliance on Spark ≥3.5's WindowGroupLimit, without which the rank-1 window funnels every copy of the hottest page through ONE reducer), and the probe branch lets Catalyst prune upstream text transforms (d38/d39 compositions). Two variants WERE rejected on measurement, decisively: (hash,id)-keyed semi join (second full md5 pass, 14-17 s on mega-dup) and min_by argmax (non-codegen SortAggregate, 6.5-7 s both shapes) | single-task shuffle+sort of the hottest key (engines without WindowGroupLimit) |

Every bucket/block guard is the shared `_drop_over_cap` primitive — a
map-side-combinable groupBy count + left-semi join on the under-cap
keys (round 6; previously a count-over-window, which buffered the
whole hot bucket in ONE task to evaluate the count — the guard itself
was a hot-key bottleneck; the semi join streams the hot probe
partition and AQE can skew-split it). Cost O(rows), independent of
bucket². The
survivors prove the guards drop degenerate KEYS, not data: the s1/s2
pair (distinct small domain) appears in both jaccard outputs, and the
tail domains pass `domain_cap` untouched.

Reproduce: `python scripts/bench_skew.py --mega {args.mega} --tail {args.tail} --probe {args.probe} --cores {args.cores} --dup {args.dup} --bigdomain {args.bigdomain} --basesigs {args.basesigs}`
{MARK_B}"""

    bench_md = os.path.join(REPO, "BENCH.md")
    text = open(bench_md).read()
    if MARK_A in text:
        head, rest = text.split(MARK_A, 1)
        _, tail_md = rest.split(MARK_B, 1)
        text = head + section + tail_md
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    open(bench_md, "w").write(text)

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
