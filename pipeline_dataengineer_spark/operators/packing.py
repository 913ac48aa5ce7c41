"""Sequence packing: assign documents to fixed-size training windows.

The last step of an LLM data pipeline: documents become contiguous
token sequences of exactly ``context_len`` by concatenating in a
deterministic order and cutting at window boundaries
(concat-and-chop, the scheme most production pipelines use — bin
packing optimality is not worth a shuffle-heavy solver when straddled
documents simply continue in the next window).

Distribution scheme: documents hash into ``buckets`` independent
streams (the Lehmer bucket from operators/sampling.py, so membership
is engine-portable and layout-stable); within a bucket the order is
(doc_id) and the window id falls out of a running token cumsum. One
shuffle on the bucket key; every bucket packs in parallel, and the
bucket count — not the corpus size — bounds the window-function
partition, so the plan holds when the corpus is 10^9 documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pipeline_dataengineer_spark.operators.sampling import portable_bucket


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    context_len: int,
    buckets: int = 1024,
) -> DataFrame:
    """Returns the input ids annotated with
    (bucket, seq_id, seq_offset): document ``id`` contributes its
    tokens to window ``seq_id`` (0-based within the bucket) starting
    at ``seq_offset``; a document straddling a boundary continues
    into the next window (consumers slice by offset). Deterministic
    for a given (corpus, context_len, buckets) regardless of
    partitioning or engine.

    Siblings in operators/corpus.py: ``pack_concat_chunks`` (ONE
    global stream via the global cumsum, emits every doc-window
    overlap span) and ``pack_greedy_shards`` (no-split greedy
    bins)."""
    b = portable_bucket(id_col, buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tokens_before: Column = F.coalesce(
        F.sum(token_count_col).over(w), F.lit(0)
    ).cast("long")
    return (
        df.select(
            F.col(id_col),
            F.col(token_count_col),
            b.cast("long").alias("bucket"),
        )
        .withColumn("__before", tokens_before)
        .select(
            id_col,
            "bucket",
            (F.col("__before") / context_len).cast("long").alias("seq_id"),
            F.pmod(F.col("__before"), F.lit(context_len)).cast("long").alias(
                "seq_offset"
            ),
        )
    )
