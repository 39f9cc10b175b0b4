#!/usr/bin/env python
"""Minhash kernel cost over a series of web-Zipf batches in one process.

Spark reuses a Python worker across tasks, so the per-worker minhash
cache (``arrow_hash._MH_CACHES``) sees every batch that worker is given.
This script feeds a corpus shaped like the perfbench ``filter`` workload
(``CorpusSpec(q=50, ranks=2M)``, a Zipfian vocabulary) to
``_minhash_batch`` in order, one batch at a time, and prints one JSON
line per batch: the batch's unique lowercased words, the share of them
seen in earlier batches (the most any word cache can hit) and the kernel
seconds. The last line holds the medians over the first and the last
eight batches.

``--cold`` empties the module's word caches before every batch (the
miss regime of a fresh worker). ``--root`` imports the package from
another checkout, so two commits are compared by alternating runs at
the same seed.

Usage: python scripts/bench_hash_series.py [--docs 16000] [--seed 2]
       [--cold] [--root CHECKOUT]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BATCH_DOCS = 500
K = 8  # lanes: the dedup.minhash_signature default, as in perfbench/kernels.py


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=16000)
    ap.add_argument("--seed", type=int, default=2)
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--root", default=REPO)
    a = ap.parse_args()
    sys.path.insert(0, os.path.abspath(a.root))
    sys.path.insert(1, REPO)  # perfbench.corpus, if --root predates it

    import pandas as pd

    from datacurator_jl_spark.functions import arrow_hash as AH
    from datacurator_jl_spark.functions.tokens import token_codes
    from perfbench import corpus as C

    def clear_caches() -> None:
        for name, v in vars(AH).items():
            if "CACHE" in name and isinstance(v, dict):
                v.clear()

    docs, _ = C.generate(C.CorpusSpec(n_docs=a.docs, q=50.0, ranks=2_000_000), a.seed)
    texts = docs["text"].reset_index(drop=True)
    AH._minhash_batch(pd.Series(["warm up"], dtype=object), K)
    clear_caches()
    seen: set[str] = set()
    secs = []
    for b, i in enumerate(range(0, len(texts), BATCH_DOCS)):
        s = texts.iloc[i : i + BATCH_DOCS]
        _, _, uniques = token_codes(s.str.lower())
        reuse = sum(w in seen for w in uniques) / max(len(uniques), 1)
        seen.update(uniques)
        if a.cold:
            clear_caches()
        gc.collect()
        t0 = time.perf_counter()
        AH._minhash_batch(s, K)
        secs.append(time.perf_counter() - t0)
        print(json.dumps({"batch": b, "uniques": len(uniques),
                          "reuse": round(reuse, 4), "s": round(secs[-1], 4)}))
    print(json.dumps({"root": os.path.abspath(a.root), "cold": a.cold, "seed": a.seed,
                      "first8_s": round(statistics.median(secs[:8]), 4),
                      "last8_s": round(statistics.median(secs[-8:]), 4)}))


if __name__ == "__main__":
    main()
