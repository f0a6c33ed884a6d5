"""``ml_predict`` — row-level model inference as a lateral function.

Reference: ``LATERAL TABLE(ML_PREDICT('model', input[, MAP opts]))`` —
1 row in → 1 row out (LAB1-Walkthrough.md:70, terraform/lab2-vector-search/
main.tf:253,331). In Spark this is not a join at all: an Arrow-batched
pandas UDF appended with ``withColumn``. The iterator form initializes the
provider client once per worker python process and streams record batches
through it — at 100 TB the model endpoint is the bottleneck, not Spark, so
the knobs that matter are batch size (``spark.sql.execution.arrow.
maxRecordsPerBatch``) and endpoint-side concurrency = number of tasks ×
the model's ``max_concurrency`` param (requests in flight per task,
default 2; ``providers._post_all``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quickstart_streaming_agents_spark.providers import (
    request_width,
    resolve_provider,
)
from quickstart_streaming_agents_spark.registries import Model


def ml_predict(model: Model, input_col: str | Column) -> Column:
    """Column expression: model inference over ``input_col``.

    ``task="text_generation"`` → StringType ``response``;
    ``task="embedding"`` → ArrayType(FloatType) ``embedding``.
    Use as ``df.withColumn("response", ml_predict(model, "prompt"))``.
    """
    # fail fast on the driver: raises for any task outside the provider
    # registry and for a max_concurrency that is not an integer >= 1
    resolve_provider(model)
    request_width(model)
    col = F.col(input_col) if isinstance(input_col, str) else input_col
    ret_type = (
        T.ArrayType(T.FloatType())
        if model.task == "embedding"
        else T.StringType()
    )

    @F.pandas_udf(ret_type)
    def _infer(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        fn = resolve_provider(model)
        for s in batches:
            yield pd.Series(fn(s.fillna("").tolist(), model), index=s.index)

    return _infer(col)


def ml_predict_cached(
    df,
    model: Model,
    prompt_col: str,
    cache,
    out_col: str = "response",
    hit_col: str = "cache_hit",
    hash_col: str = "prompt_hash",
    broadcast_cache: bool = True,
    broadcast_fresh: bool | None = None,
):
    """Inference with an exact-match response cache — the cost gate every
    production ML_PREDICT pipeline puts in front of the provider: rows
    whose prompt md5 appears in ``cache`` (columns ``prompt_hash``,
    ``response``) reuse the stored response; only cache MISSES invoke the
    model, and those are deduplicated first so the provider sees ONE call
    per distinct missed prompt, not one per row (templated prompts over
    repeating entities make this the dominant saving at corpus scale).

    Returns ``(result, new_entries)``: ``result`` is ``df`` plus
    ``hash_col``, ``hit_col`` and ``out_col``; ``new_entries`` is the
    distinct (prompt_hash, response) delta to append to the cache table
    for the next run (the cache's compaction/upsert is the caller's
    storage concern — on a Kafka-backed cache it's a compacted topic).
    ``new_entries`` is persisted inside this call so that materializing
    BOTH returned frames still invokes the provider exactly once per
    distinct missed prompt; call ``new_entries.unpersist()`` once the
    delta is appended. Cache rows whose ``response`` is NULL are treated
    as ABSENT (ADVICE r13): they are filtered out of the probe before
    dedup, so the row re-invokes the provider and the fresh non-NULL
    entry lands in ``new_entries`` — a one-time repair once the caller's
    compaction keeps the newer row, instead of the NULL row winning the
    arbitrary dedup pick forever. Duplicate ``prompt_hash`` rows in
    ``cache`` (an appended, not-yet-compacted snapshot) are deduplicated
    before the probe — non-NULL duplicates carry the same response by
    construction, any one wins. NULL prompts hash as the empty string,
    matching the provider's own NULL→"" normalization, so a NULL-prompt
    row gets the empty-prompt response instead of silently dropping to
    NULL.

    100 TB shape: the cache probe is one broadcast hash join when the
    cache is broadcastable (``broadcast_cache``, default) else a shuffle
    hash join on the uniform md5 key (no skew by construction); the
    intra-batch dedup is one distinct() shuffle over the MISS slice only;
    the provider UDF — the actual bottleneck at scale — runs on the
    deduped side only. Everything else is JVM. The fresh-response
    backfill join is gated by ``broadcast_fresh`` (default: follows
    ``broadcast_cache``): the fresh side is bounded by the batch's
    distinct MISSED prompts, not by the cache, so on a cold start over a
    large corpus pass ``broadcast_fresh=False`` to keep an arbitrarily
    large miss slice off the driver while still broadcasting the small
    warm cache (ADVICE r13).
    """
    h = F.md5(F.coalesce(F.col(prompt_col), F.lit("")))
    # NULL-response rows are filtered BEFORE dedup so a repaired (non-NULL)
    # duplicate always wins over a broken NULL row — otherwise the
    # arbitrary dropDuplicates pick could resurrect the NULL forever
    probe = cache.filter(F.col("response").isNotNull()).select(
        F.col("prompt_hash").alias(hash_col),
        F.col("response").alias("__cached_response"),
    ).dropDuplicates([hash_col])
    if broadcast_cache:
        probe = F.broadcast(probe)
    joined = df.withColumn(hash_col, h).join(probe, hash_col, "left")

    misses = (
        joined.filter(F.col("__cached_response").isNull())
        .select(
            hash_col,
            F.coalesce(F.col(prompt_col), F.lit("")).alias("__miss_prompt"),
        )
        .distinct()
    )
    from quickstart_streaming_agents_spark.runtime import track_persist

    new_entries = track_persist(misses.select(
        F.col(hash_col).alias("prompt_hash"),
        ml_predict(model, "__miss_prompt").alias("response"),
    ).persist())
    fresh = new_entries.select(
        F.col("prompt_hash").alias(hash_col),
        F.col("response").alias("__fresh_response"),
    )
    if broadcast_cache if broadcast_fresh is None else broadcast_fresh:
        fresh = F.broadcast(fresh)
    result = (
        joined.join(fresh, hash_col, "left")
        .withColumn(hit_col, F.col("__cached_response").isNotNull())
        .withColumn(
            out_col,
            F.coalesce(F.col("__cached_response"), F.col("__fresh_response")),
        )
        .drop("__cached_response", "__fresh_response")
    )
    return result, new_entries
