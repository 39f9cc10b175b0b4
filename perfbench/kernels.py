"""Per-batch Arrow kernel micro-bench.

Each kernel runs through its public Column function over one
single-partition frame of ``BATCH_DOCS`` documents cut from the
workload's corpus, so the partition is one Arrow batch
(``maxRecordsPerBatch`` is 10,000). One warm batch, then the median of
``REPEATS`` timed batches, reported as milliseconds per 10,000 documents.
Going through the Column API, not the private batch functions, keeps the
micro-bench valid when the kernels' internals are rewritten; the Arrow
transfer of the batch is included.
"""

from __future__ import annotations

import statistics
import time

BATCH_DOCS = 1000
REPEATS = 2


def _kernels():
    from datacurator_jl_spark.functions.arrow_hash import minhash_struct_arrow
    from datacurator_jl_spark.functions.arrow_stats import token_stats_arrow
    from datacurator_jl_spark.functions.classifier import linear_score
    from datacurator_jl_spark.functions.rep_stats import rep_stats_arrow

    return {
        "functions.token_stats_ms": token_stats_arrow,
        "functions.minhash_ms": lambda c: minhash_struct_arrow(c, 8),
        "functions.classifier_ms": linear_score,
        "functions.rep_stats_ms": rep_stats_arrow,
    }


def measure(spark, docs) -> dict[str, float]:
    """ms per 10k docs for each kernel over ``docs`` (a pandas frame with a
    ``text`` column; the first BATCH_DOCS rows are used)."""
    from pyspark.sql import functions as F

    texts = docs[["text"]].iloc[:BATCH_DOCS]
    df = spark.createDataFrame(texts).coalesce(1).localCheckpoint(eager=True)
    out = {}
    for name, fn in _kernels().items():
        q = df.select(fn(F.col("text")).alias("k"))
        times = []
        for i in range(REPEATS + 1):
            t0 = time.perf_counter()
            q.write.format("noop").mode("overwrite").save()
            if i:
                times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) * 1000.0 * 10_000 / len(texts)
    return out
