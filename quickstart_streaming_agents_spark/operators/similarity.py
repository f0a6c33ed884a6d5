"""Approximate nearest-neighbor search over embedding columns.

Beyond-reference surface: the reference's VECTOR_SEARCH_AGG delegates ANN
to MongoDB Atlas (numCandidates=500); this engine owns the search.

- ``knn_bruteforce`` — exact top-k via the broadcast-matrix path
  (functions/vector.vector_search); the correctness baseline.
- ``ann_lsh`` — random-hyperplane LSH: sign-bit bucket per probe table,
  equi-join on (table, bucket), exact re-rank within buckets. The shuffle
  is keyed on hash buckets, never all-pairs — the 100 TB path. Recall is
  tunable via (num_planes, num_tables) and measured in tests against the
  brute-force baseline.
- ``ann_ivf`` — inverted-file variant: spherical k-means over a bounded
  sample, distributed nearest-centroid assignment, multi-probe candidate
  join on cluster id, same exact re-rank. Data-adaptive partitions where
  LSH's are oblivious.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from quickstart_streaming_agents_spark.functions.vector import vector_search

# pq_adc's per-query ADC lookup tables register with runtime.track_
# broadcast so long-lived sessions can free them between queries
# (ADVICE r8) — see quickstart_streaming_agents_spark/runtime.py.
from quickstart_streaming_agents_spark.runtime import (  # noqa: E402
    release_tracked_broadcasts as release_adc_broadcasts,
    track_broadcast as _track_broadcast,
)

knn_bruteforce = vector_search


def _hyperplanes(dim: int, num_planes: int, num_tables: int, seed: int = 42):
    """Deterministic hyperplane normals in [-1, 1) from per-cell md5s.

    Uniform (not Gaussian) directions: sign-LSH only needs symmetric
    directions for collision probability to be monotone in angle, and the
    exact re-rank downstream absorbs the small bucket-quality difference.
    The md5 construction is what makes the whole ANN query replayable in
    the DuckDB oracle (same expression as providers.fake_embedding):
    ``('0x' || substr(md5('plane:<seed>:<t>:<p>:<d>'), 1, 16))::UBIGINT
    / 2^64 * 2 - 1``.
    """
    import hashlib

    import numpy as np

    out = np.empty((num_tables, num_planes, dim), dtype=np.float64)
    for t in range(num_tables):
        for p in range(num_planes):
            for d in range(dim):
                h = hashlib.md5(f"plane:{seed}:{t}:{p}:{d}".encode()).hexdigest()[:16]
                out[t, p, d] = int(h, 16) / 2**64 * 2.0 - 1.0
    return out


def _bucket_df(df: DataFrame, id_col: str, emb_col: str, planes) -> DataFrame:
    """(item_id, table, bucket) — sign-bit LSH bucket per probe table.

    Ids only: embeddings are joined back for re-rank AFTER candidate
    dedup, so the (table, bucket) shuffle moves 3 longs per row per table
    instead of the full vector — at 1536-dim × 8 tables that's the
    difference between shuffling ~100 B/row and ~100 KB/row."""
    num_tables, num_planes, _ = planes.shape
    out_schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("table", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )
    src = df.select(F.col(id_col).cast("long").alias("item_id"), F.col(emb_col).alias("__emb"))
    b_planes = _track_broadcast(
        df.sparkSession.sparkContext.broadcast(planes)
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pl = b_planes.value  # (tables, planes, dim)
        pows = (2 ** np.arange(num_planes)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__emb"].to_numpy()).astype(np.float64)  # (n, dim)
            ids = pdf["item_id"].to_numpy().astype(np.int64)
            # all tables in one matmul: (n, tables*planes) sign bits
            bits = (X @ pl.reshape(num_tables * num_planes, -1).T) > 0
            buckets = bits.reshape(len(pdf), num_tables, num_planes).astype(np.int64) @ pows
            yield pd.DataFrame(
                {
                    "item_id": np.repeat(ids, num_tables),
                    "table": np.tile(np.arange(num_tables, dtype=np.int32), len(pdf)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return src.mapInPandas(compute, schema=out_schema)


def _empty_topk(spark) -> DataFrame:
    """Schema-correct empty ANN result (query_id, match_id, score, rk)."""
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("match_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("rk", T.IntegerType()),
        ]
    )
    return spark.createDataFrame([], schema)


def ann_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    emb_col: str = "embedding",
    k: int = 3,
    num_planes: int = 8,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Top-k (approximate) cosine matches: (query_id, match_id, score, rk).

    Candidates = bucket collisions in any probe table; exact cosine re-rank.
    """
    # a NULL embedding can match nothing and would crash np.stack later
    corpus = corpus.filter(F.col(emb_col).isNotNull())
    queries = queries.filter(F.col(emb_col).isNotNull())
    first = corpus.select(emb_col).first()
    if first is None:  # empty corpus: nothing can match (empty-input safety)
        return _empty_topk(corpus.sparkSession)
    dim = len(first[0])
    planes = _hyperplanes(dim, num_planes, num_tables, seed)
    qb = _bucket_df(queries, query_id, emb_col, planes)
    cb = _bucket_df(corpus, corpus_id, emb_col, planes)
    # ids-only candidate pairs, deduped across probe tables BEFORE any
    # vector touches a shuffle
    cand = (
        qb.alias("q")
        .join(
            cb.alias("c"),
            (F.col("q.table") == F.col("c.table")) & (F.col("q.bucket") == F.col("c.bucket")),
        )
        .select(
            F.col("q.item_id").alias("query_id"),
            F.col("c.item_id").alias("match_id"),
        )
        .distinct()
    )
    return _rerank_topk(cand, queries, corpus, query_id, corpus_id, emb_col, k)


def _rerank_topk(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    emb_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine re-rank of ids-only candidate pairs → top-k per query.

    Query side is the small side (broadcast); corpus side is an equi-join
    on match_id — one hash shuffle of candidates against the corpus, then
    a JVM-side cosine and a partitioned row_number."""
    qe = queries.select(
        F.col(query_id).cast("long").alias("query_id"), F.col(emb_col).alias("qe")
    )
    ce = corpus.select(
        F.col(corpus_id).cast("long").alias("match_id"), F.col(emb_col).alias("ce")
    )
    cand = cand.join(F.broadcast(qe), "query_id").join(ce, "match_id")
    dot = F.expr("aggregate(zip_with(qe, ce, (x, y) -> x * double(y)), 0D, (acc, v) -> acc + v)")
    norm = F.sqrt(F.expr("aggregate(qe, 0D, (a, v) -> a + v * double(v))")) * F.sqrt(
        F.expr("aggregate(ce, 0D, (a, v) -> a + v * double(v))")
    )
    # a zero vector yields 0/0 = NaN, which Spark sorts ABOVE every real
    # score — define its similarity as 0 (the brute-force tier's guard)
    scored = cand.withColumn(
        "score", F.when(norm == 0, F.lit(0.0)).otherwise(dot / norm)
    ).drop("qe", "ce")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("match_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "match_id", F.round("score", 6).alias("score"), "rk")
    )


def _train_centroids(
    corpus: DataFrame, emb_col: str, n_centroids: int, sample_size: int, iters: int, seed: int,
    init: str = "random", id_col: str | None = None,
):
    """Spherical k-means centroids from a bounded corpus sample.

    Training is driver-side numpy over ≤``sample_size`` vectors — the
    standard IVF recipe (train on a sample); assignment, the O(corpus)
    part, stays distributed.

    ``init="random"`` seeds from a RandomState draw. ``init="hash"``
    (requires ``id_col``) is fully deterministic and *SQL-replayable*:
    the sample is the ``sample_size`` rows with smallest
    md5(f"ivf:{seed}:{id}") and the first ``n_centroids`` of that order
    seed the centroids — which lets a DuckDB oracle re-run the entire
    k-means (see queries._ivf_oracle)."""
    import numpy as np

    if init == "hash":
        if id_col is None:
            raise ValueError("init='hash' requires id_col")
        frac_df = corpus.select(
            F.col(id_col).cast("long").alias("i"), F.col(emb_col).alias("e"),
            F.md5(F.concat(F.lit(f"ivf:{seed}:"), F.col(id_col).cast("long")
                           .cast("string"))).alias("h"),
        ).orderBy("h", "i").limit(sample_size)
        pdf = frac_df.toPandas()
        X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        X = X / norms[:, None]
        cents = X[: min(n_centroids, len(X))].copy()
    else:
        frac_df = corpus.select(F.col(emb_col).alias("e"))
        n = frac_df.count()
        if n > sample_size:
            frac_df = frac_df.sample(fraction=min(1.0, 1.2 * sample_size / n), seed=seed).limit(
                sample_size
            )
        X = np.stack(frac_df.toPandas()["e"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        X = X / norms[:, None]
        rng = np.random.RandomState(seed)
        cents = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = (X @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    cents[c] = v / nv
    return cents


def _assign_df(df: DataFrame, id_col: str, emb_col: str, cents, n_probe: int) -> DataFrame:
    """(item_id, cluster) — nearest centroid(s) by cosine; ids only, same
    rationale as _bucket_df. n_probe=1 for the corpus, >1 for queries."""
    out_schema = T.StructType(
        [
            T.StructField("item_id", T.LongType()),
            T.StructField("cluster", T.IntegerType()),
        ]
    )
    src = df.select(F.col(id_col).cast("long").alias("item_id"), F.col(emb_col).alias("__emb"))
    b_cents = _track_broadcast(
        df.sparkSession.sparkContext.broadcast(cents)
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cts = b_cents.value  # (C, dim), unit-norm
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__emb"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(X, axis=1)
            nrm[nrm == 0] = 1.0
            sims = (X / nrm[:, None]) @ cts.T  # (n, C)
            ids = pdf["item_id"].to_numpy().astype(np.int64)
            if n_probe == 1:
                yield pd.DataFrame(
                    {"item_id": ids, "cluster": sims.argmax(axis=1).astype(np.int32)}
                )
            else:
                p = min(n_probe, sims.shape[1])
                top = np.argpartition(-sims, p - 1, axis=1)[:, :p]
                yield pd.DataFrame(
                    {
                        "item_id": np.repeat(ids, p),
                        "cluster": top.reshape(-1).astype(np.int32),
                    }
                )

    return src.mapInPandas(compute, schema=out_schema)


def ann_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    emb_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_sample: int = 20_000,
    train_iters: int = 5,
    seed: int = 42,
    init: str = "random",
) -> DataFrame:
    """IVF ANN: spherical-k-means partitioning + multi-probe search.

    Scale shape: centroids train on a bounded sample (driver numpy),
    corpus assignment is one distributed map emitting (id, cluster) longs,
    the candidate join is an equi-join on cluster, and the exact re-rank
    reuses _rerank_topk. Compared to ann_lsh, IVF adapts its partitions to
    the data distribution — better recall per candidate on clustered
    corpora; LSH needs no training pass. Recall is tuned via
    (n_centroids, n_probe) and measured in tests vs brute force.
    """
    corpus = corpus.filter(F.col(emb_col).isNotNull())
    queries = queries.filter(F.col(emb_col).isNotNull())
    if corpus.select(emb_col).first() is None:  # empty corpus (see ann_lsh)
        return _empty_topk(corpus.sparkSession)
    cents = _train_centroids(corpus, emb_col, n_centroids, train_sample,
                             train_iters, seed, init=init, id_col=corpus_id)
    qa = _assign_df(queries, query_id, emb_col, cents, n_probe)
    ca = _assign_df(corpus, corpus_id, emb_col, cents, 1)
    cand = (
        qa.alias("q")
        .join(ca.alias("c"), F.col("q.cluster") == F.col("c.cluster"))
        .select(
            F.col("q.item_id").alias("query_id"),
            F.col("c.item_id").alias("match_id"),
        )
        # corpus ids live in exactly one cluster and query probes are
        # distinct clusters ⇒ pairs are already unique, no distinct needed
    )
    return _rerank_topk(cand, queries, corpus, query_id, corpus_id, emb_col, k)


def _semantic_members_df(
    df: DataFrame, id_col: str, emb_col: str, cents
) -> DataFrame:
    """(item_id, cluster, __en) in ONE Python pass: nearest-centroid
    assignment (bit-identical arithmetic to ``_assign_df`` with
    n_probe=1 — np.linalg.norm normalization, argmax over X @ cents.T)
    plus the cosine-ready unit vector ``__en`` computed with the SAME
    IEEE semantics as the JVM expression it replaces
    (``transform(e, x -> x / sqrt(aggregate(transform(e, y -> y*y), 0D,
    (a, x) -> a + x)))``): the squared norm is accumulated column by
    column in index order — a strict left-to-right double fold, exactly
    the Catalyst evaluation order — then divided per element. Fusing the
    two saves the (item_id)-keyed join ``semantic_dedup`` used to pay to
    re-unite assignment with normalized embeddings."""
    out_schema = T.StructType([
        T.StructField("item_id", T.LongType()),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("__en", T.ArrayType(T.DoubleType())),
    ])
    src = df.select(
        F.col(id_col).cast("long").alias("item_id"),
        F.col(emb_col).cast("array<double>").alias("__e"),
    )
    b_cents = _track_broadcast(df.sparkSession.sparkContext.broadcast(cents))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cts = b_cents.value  # (C, dim), unit-norm
        for pdf in batches:
            if not len(pdf):
                continue
            rows = [np.asarray(v, dtype=np.float64) for v in pdf["__e"]]
            dims = {len(v) for v in rows}
            if len(dims) == 1 and next(iter(dims)) == cts.shape[1]:
                X = np.stack(rows)
                # cluster: _assign_df's exact arithmetic (pairwise-sum
                # norm is FINE here — only the argmax consumes it, and
                # the oracle replays this exact np path)
                nrm = np.linalg.norm(X, axis=1)
                nrm[nrm == 0] = 1.0
                cl = ((X / nrm[:, None]) @ cts.T).argmax(axis=1)
                # __en: strict left-to-right column fold for the squared
                # norm — the JVM aggregate()'s evaluation order, so every
                # downstream cosine threshold compare is bit-identical
                sq = np.zeros(len(X))
                for d in range(X.shape[1]):
                    sq += X[:, d] * X[:, d]
                # a zero-norm row normalizes to NaN (0/0) on purpose:
                # see _semantic_kept_fn's zero-norm contract
                with np.errstate(invalid="ignore", divide="ignore"):
                    en = X / np.sqrt(sq)[:, None]
                yield pd.DataFrame({
                    "item_id": pdf["item_id"].to_numpy(np.int64),
                    "cluster": cl.astype(np.int32),
                    "__en": list(en),
                })
            else:
                # ragged / off-dim corpora crashed the previous
                # np.stack/matmul assignment path too — keep that
                # contract loud rather than silently mis-assigning
                raise ValueError(
                    f"semantic_dedup: embedding dims {sorted(dims)} do "
                    f"not all match the centroid dim {cts.shape[1]}"
                )

    return src.mapInPandas(compute, schema=out_schema)


def _semantic_kept_fn(threshold: float):
    """Per-cluster SemDeDup keep/drop flags over ``(item_id, cluster,
    __en)`` groups — the vectorized replacement for the old intra-cluster
    self-join whose per-pair JVM ``aggregate(zip_with(...))`` fold
    evaluated interpreted (~36 µs/pair: 12.5M pairs = 28 s at the heavy
    tier's 20k-vector corpus, on at most C tasks).

    Bit-exactness contract: a pair's cosine here is the SAME IEEE value
    as the old fold. The Gram accumulation runs column by column in
    index order — ``G += X[:, d:d+1] * X[:, d][None, :]`` is, for every
    (i, j) cell, the strict left-to-right sequence
    ``acc = acc + (ea[d] * eb[d])`` starting from +0.0, exactly the
    Catalyst ``aggregate(zip_with(ea, eb, (x,y) -> x*y), 0D, +)``
    evaluation (numpy float64 multiply/add are the same IEEE-754 ops).
    Pairs whose arrays differ in length produced a NULL cosine in the
    old zip_with (null-padded) and were never dups — reproduced by
    pairing only within same-length subgroups.

    Zero-norm contract: a zero-norm row is never a dup and is kept, and
    a pair of zero vectors never forms. Here the row normalizes to NaN
    and a NaN cosine fails ``>= threshold``; the DuckDB oracle evaluates
    ``0/0`` as NULL, so its cosine is NULL and the pair is filtered out
    too. Both engines put a zero vector in cluster 0.
    ``test_semantic_dedup_zero_norm_rows_match_oracle`` pins this on a
    fixture with two zero vectors.

    Memory: one cluster is one group, held whole in one Python worker
    (its rows plus an ``m x dim`` float64 matrix), so the largest
    cluster must fit a worker — ``target_cluster_size`` bounds the
    expected size, not the maximum. The Gram is row-blocked (512 rows x
    group) so it stays small — a 4096-member cluster peaks at
    512 x 4096 doubles = 16 MB per task."""

    def kept_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        order = np.argsort(pdf["item_id"].to_numpy(np.int64), kind="stable")
        ids = pdf["item_id"].to_numpy(np.int64)[order]
        rows = [np.asarray(v, dtype=np.float64)
                for v in pdf["__en"].to_numpy()[order]]
        dup = np.zeros(n, dtype=bool)
        by_len: dict[int, list[int]] = {}
        for i, v in enumerate(rows):
            by_len.setdefault(len(v), []).append(i)
        for idxs in by_len.values():
            m = len(idxs)
            if m < 2:
                continue
            X = np.stack([rows[i] for i in idxs])
            pos = np.arange(m)
            blk = 512
            sub_dup = np.zeros(m, dtype=bool)
            for r0 in range(0, m, blk):
                r1 = min(r0 + blk, m)
                G = np.zeros((r1 - r0, m))
                for d in range(X.shape[1]):
                    G += X[r0:r1, d:d + 1] * X[:, d][None, :]
                # ids ascend within the group; a column j is a dup iff
                # some row i with a strictly smaller id (i < j in sorted
                # order) reaches the threshold
                with np.errstate(invalid="ignore"):
                    hit = (G >= threshold) & (pos[r0:r1, None] < pos[None, :])
                sub_dup |= hit.any(axis=0)
            for k, i in enumerate(idxs):
                if sub_dup[k]:
                    dup[i] = True
        return pd.DataFrame({
            "item_id": ids,
            "cluster": pdf["cluster"].to_numpy(np.int32)[order],
            "kept": ~dup,
        })

    return kept_fn


def semantic_dedup(
    corpus: DataFrame,
    id_col: str,
    emb_col: str = "embedding",
    threshold: float = 0.4,
    n_centroids: int = 16,
    train_sample: int = 20_000,
    train_iters: int = 5,
    seed: int = 42,
    init: str = "hash",
    target_cluster_size: int | None = 4096,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): spherical k-means partitioning, then
    intra-cluster cosine pruning — an item is dropped iff some SMALLER-id
    member of its own cluster is within ``threshold`` cosine (the
    keep-one-per-near-dup-group rule, with min-id as the deterministic
    keeper). Returns ``(id_col, cluster, kept)`` for every corpus row.

    Scale shape: k-means training is the bounded-sample driver recipe
    shared with ann_ivf; assignment and normalization are one fused
    ``MapInPandas`` matmul pass over the corpus; candidate pairs exist
    only WITHIN clusters (SemDeDup's point), so pruning is one
    cluster-keyed ``FlatMapGroupsInPandas`` (``applyInPandas``) whose
    blocked numpy Gram computes every intra-cluster cosine. The Gram
    accumulates in the SQL oracle's list_transform sum element order, so
    threshold comparisons are bit-identical (``_semantic_kept_fn``). A
    whole cluster is one group in one worker: the largest cluster must
    fit in a Python worker's memory.

    ``target_cluster_size`` is what keeps the intra-cluster pair join
    from going quadratic at scale: the cluster count is auto-scaled to
    ``C = max(n_centroids, ceil(count/target_cluster_size))`` (one cheap
    count — ids-only scan), so expected cluster population stays ≈
    ``target_cluster_size`` and pair work is O(n · cluster_size), never
    corpus². For corpora with ``count ≤ n_centroids·target_cluster_size``
    (every test SF) the count changes nothing — C is exactly
    ``n_centroids``, the regime the fixed-C SQL oracle replays. C is
    capped at ``train_sample`` (hash-init seeds centroids from the
    sample; a 100 TB run raises ``train_sample`` alongside — at C=20k
    that already bounds clusters to ~0.005% of the corpus each). Pass
    ``target_cluster_size=None`` to pin C to ``n_centroids`` exactly.
    """
    corpus = corpus.filter(F.col(emb_col).isNotNull())
    if corpus.select(emb_col).first() is None:  # empty corpus (see ann_ivf)
        spark = corpus.sparkSession
        return spark.createDataFrame(
            [], T.StructType([
                T.StructField(id_col, T.LongType()),
                T.StructField("cluster", T.LongType()),
                T.StructField("kept", T.BooleanType()),
            ])
        )
    if n_centroids > train_sample:
        # a caller's EXPLICIT centroid count above the training sample
        # is impossible to honor (hash-init seeds centroids from the
        # sample) — fail loudly instead of silently training fewer
        raise ValueError(
            f"n_centroids={n_centroids} exceeds train_sample="
            f"{train_sample}; raise train_sample alongside"
        )
    if target_cluster_size is not None:
        n_rows = corpus.select(id_col).count()
        # only the AUTO-scaled portion clamps to the sample bound — the
        # caller's explicit floor was validated above
        n_centroids = min(
            max(n_centroids, -(-n_rows // target_cluster_size)),
            train_sample,
        )
    cents = _train_centroids(
        corpus, emb_col, n_centroids, train_sample, train_iters, seed,
        init=init, id_col=id_col,
    )
    members = _semantic_members_df(corpus, id_col, emb_col, cents)
    kept = members.groupBy("cluster").applyInPandas(
        _semantic_kept_fn(threshold),
        schema="item_id long, cluster int, kept boolean",
    )
    return kept.select(
        F.col("item_id").alias(id_col),
        F.col("cluster").cast("long").alias("cluster"),
        "kept",
    )


def pq_adc(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    emb_col: str = "embedding",
    k: int = 5,
    m: int = 2,
    n_centroids: int = 8,
    train_sample: int = 20_000,
    train_iters: int = 3,
    seed: int = 42,
    init: str = "hash",
    _candidates_only: bool = False,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring
    (Jégou et al. 2011): the embedding splits into ``m`` subspaces, each
    with its own spherical-k-means codebook; every corpus vector is
    stored as ``m`` small codes (here 2×3 bits replacing 64 floats —
    the memory-compression tier below IVF), and a query is scored
    against CODES, not vectors: score = Σ_m cos(q_m, codebook_m[code]).

    Scale shape: codebooks train on a bounded sample (driver numpy, the
    IVF recipe); corpus encoding is one distributed map emitting
    ``m`` ints per id; scoring is the paper's actual ADC recipe — the
    per-query × per-subspace × per-code dot products are precomputed
    ONCE into lookup tables (|Q|·m·n_centroids doubles, broadcast), and
    the codes scan is a mapInPandas numpy gather: each candidate costs
    m table lookups + (m-1) adds, no decompression. Each scan partition
    emits only its own top-k per query, so the final per-query window
    ranks ≈ k·partitions·|Q| rows instead of |corpus|·|Q| — the
    partial-top-k pruning that keeps the one shuffle bounded at scale.

    Bit-exactness contract: every float op replays the SQL oracle's
    sequential fold order — subvector norms and table entries accumulate
    left-to-right one IEEE-double op at a time (a numpy loop over j, not
    BLAS/pairwise sums), and the total adds subspace dots in index
    order — so with ``init="hash"`` the DuckDB oracle replays BOTH
    codebook trainings (tagged k-means CTEs) and the full ADC ranking
    (queries._pq_oracle) to the exact double. Partial-then-global top-k
    is exact under the (score DESC, match_id) total order: a global
    top-k row is necessarily in its partition's top-k.
    """
    import numpy as np
    corpus = corpus.filter(F.col(emb_col).isNotNull())  # same as ann_ivf
    first = corpus.select(emb_col).first()
    if first is None or first[0] is None:
        out = _empty_topk(corpus.sparkSession)
        return out.withColumnRenamed("score", "adc_score")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    width = dim // m

    codes = None
    codebooks = []
    for si in range(m):
        sub = corpus.select(
            F.col(corpus_id),
            F.slice(emb_col, si * width + 1, width).alias("__sub"),
        )
        cents = _train_centroids(
            sub, "__sub", n_centroids, train_sample, train_iters, seed,
            init=init, id_col=corpus_id,
        )
        codebooks.append(cents)
        a = _assign_df(sub, corpus_id, "__sub", cents, 1).select(
            "item_id", F.col("cluster").alias(f"__c{si}")
        )
        codes = a if codes is None else codes.join(a, "item_id")

    # --- driver-side ADC lookup tables (query set is broadcast-tiny) ---
    qframe = queries.filter(F.col(emb_col).isNotNull()).select(
        F.col(query_id).cast("long").alias("qid"), emb_col
    )
    # the ADC LUT path collects the query set: make the 'broadcast-tiny
    # query set' precondition EXPLICIT instead of an OOM — at 100k+
    # queries the LUTs stop being tiny and the caller should batch
    n_q = qframe.count()
    if n_q > 100_000:
        raise ValueError(
            f"pq_adc collects the query set for ADC lookup tables; got "
            f"{n_q:,} queries (> 100,000). Batch the query frame or use "
            "ann_ivf/sq8 for all-pairs-scale query sets."
        )
    qrows = qframe.collect()
    if not qrows:
        out = _empty_topk(corpus.sparkSession)
        return out.withColumnRenamed("score", "adc_score")
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)  # (Q, dim)
    nq = len(qids)
    luts = []
    for si in range(m):
        sub = qmat[:, si * width : (si + 1) * width]  # float32→double exact
        # sequential j-order accumulation — one IEEE add per step, the
        # oracle's fold order (np.sum's pairwise order would drift ULPs)
        acc = np.zeros(nq)
        for j in range(width):
            acc += sub[:, j] * sub[:, j]
        qn = sub / np.sqrt(acc)[:, None]
        cb = np.asarray(codebooks[si], dtype=np.float64)  # (C, width)
        lut = np.zeros((nq, len(cb)))
        for j in range(width):
            lut += qn[:, j, None] * cb[None, :, j]
        luts.append(lut)
    bc = _track_broadcast(
        corpus.sparkSession.sparkContext.broadcast((qids, luts, k))
    )

    code_cols = [f"__c{si}" for si in range(m)]

    def adc_scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        b_qids, b_luts, b_k = bc.value
        cand_ids: list = []  # per-batch top-k candidates, trimmed at end
        cand_scores: list = []
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["item_id"].to_numpy(np.int64)
            total = b_luts[0][:, pdf[code_cols[0]].to_numpy(np.int64)]
            for si in range(1, len(b_luts)):
                # subspace-index add order = the JVM/SQL d0 + d1 + …
                total = total + b_luts[si][:, pdf[code_cols[si]].to_numpy(np.int64)]
            # exact per-batch top-k under (score DESC, match_id ASC):
            # pre-sort the batch by id so the stable sort on -score
            # breaks ties by ascending match_id, same as the oracle
            id_order = np.argsort(ids, kind="stable")
            ids = ids[id_order]
            total = total[:, id_order]
            sel = np.argsort(-total, axis=1, kind="stable")[:, :b_k]
            cand_ids.append(ids[sel])  # (Q, <=k)
            cand_scores.append(np.take_along_axis(total, sel, axis=1))
        if not cand_ids:
            return
        all_ids = np.concatenate(cand_ids, axis=1)  # (Q, n_cand)
        all_scores = np.concatenate(cand_scores, axis=1)
        out_q, out_id, out_s = [], [], []
        for qi in range(len(b_qids)):
            order = np.lexsort((all_ids[qi], -all_scores[qi]))[:b_k]
            out_q.append(np.full(len(order), b_qids[qi], dtype=np.int64))
            out_id.append(all_ids[qi][order])
            out_s.append(all_scores[qi][order])
        yield pd.DataFrame({
            "query_id": np.concatenate(out_q),
            "match_id": np.concatenate(out_id),
            "__score": np.concatenate(out_s),
        })

    scored = codes.select("item_id", *code_cols).mapInPandas(
        adc_scan, schema="query_id long, match_id long, __score double"
    )
    if _candidates_only:  # test hook: the pre-window (pruned) stage
        return scored

    from pyspark.sql import Window

    wn = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wn))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "match_id",
            F.round("__score", 6).alias("adc_score"), "rk",
        )
    )


def ann_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    emb_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 3,
    m: int = 2,
    n_centroids: int = 8,
    train_sample: int = 20_000,
    coarse_iters: int = 3,
    pq_iters: int = 3,
    seed: int = 42,
    init: str = "hash",
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ architecture, Jégou et al. 2011
    §IV): a coarse spherical-k-means quantizer restricts each query to
    ``n_probe`` inverted cells, and candidates inside those cells are
    scored by product-quantization codes via ADC — the composition of
    this module's ``ann_ivf`` (cell pruning) and ``pq_adc`` (code
    scoring) tiers, which is what actually runs at billion-vector
    scale: IVF bounds the candidates, PQ bounds the bytes.

    Spark-first twist vs ``pq_adc``: the ADC lookup table here is a
    DATAFRAME of (qid, subspace, code, dot) rows — |Q|·m·n_centroids
    tiny — broadcast-joined onto the candidate pairs, so scoring is
    pure JVM (one broadcast hash join per subspace + one add), no
    Python in the scan at all. Exactness: every dot is a sequential
    left-to-right IEEE fold (JVM ``aggregate``/``zip_with`` ≡ DuckDB
    ``list_aggregate``), per-subspace normalization matches the
    codebook training, and score = d0 + d1 adds in subspace order —
    the DuckDB oracle replays coarse training, both codebook
    trainings, encoding, probing and ranking to the exact double."""
    corpus = corpus.filter(F.col(emb_col).isNotNull())
    queries = queries.filter(F.col(emb_col).isNotNull())
    first = corpus.select(emb_col).first()
    if first is None or first[0] is None:
        out = _empty_topk(corpus.sparkSession)
        return out.withColumnRenamed("score", "adc_score")
    dim = len(first[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    width = dim // m

    # --- coarse quantizer: cells + multi-probe query assignment ---
    coarse = _train_centroids(corpus, emb_col, n_cells, train_sample,
                              coarse_iters, seed, init=init,
                              id_col=corpus_id)
    qa = _assign_df(queries, query_id, emb_col, coarse, n_probe)
    ca = _assign_df(corpus, corpus_id, emb_col, coarse, 1)

    # --- per-subspace codebooks, corpus codes, and the LUT frame ---
    spark = corpus.sparkSession
    codes: DataFrame | None = None
    lut_parts = []
    qsubs = queries.select(
        F.col(query_id).cast("long").alias("qid"), emb_col
    )
    for si in range(m):
        sub = corpus.select(
            F.col(corpus_id),
            F.slice(emb_col, si * width + 1, width).alias("__sub"),
        )
        cb = _train_centroids(sub, "__sub", n_centroids, train_sample,
                              pq_iters, seed, init=init, id_col=corpus_id)
        a = _assign_df(sub, corpus_id, "__sub", cb, 1).select(
            "item_id", F.col("cluster").alias(f"__c{si}")
        )
        codes = a if codes is None else codes.join(a, "item_id")
        cent_rows = [
            (si, cl, [float(x) for x in cb[cl]]) for cl in range(len(cb))
        ]
        cents_df = spark.createDataFrame(
            cent_rows, "si int, code int, cent array<double>"
        )
        qsub = qsubs.select(
            "qid", F.slice(emb_col, si * width + 1, width).alias("__q")
        )
        # per-subspace normalized query, sequential-fold norm + dot
        qn = F.expr(
            "transform(__q, x -> x / sqrt(aggregate(__q, 0D,"
            " (a, v) -> a + double(v) * double(v))))"
        )
        lut_parts.append(
            qsub.select("qid", qn.alias("__qn"))
            .crossJoin(F.broadcast(cents_df))
            .select(
                "qid", "si", "code",
                F.expr(
                    "aggregate(zip_with(__qn, cent, (x, y) -> x * y), 0D,"
                    " (a, v) -> a + v)"
                ).alias("d"),
            )
        )
    lut = lut_parts[0]
    for part in lut_parts[1:]:
        lut = lut.unionByName(part)

    # --- probe cells → candidate pairs → ADC score, pure JVM ---
    cand = (
        qa.alias("q")
        .join(ca.alias("c"), F.col("q.cluster") == F.col("c.cluster"))
        .select(
            F.col("q.item_id").alias("query_id"),
            F.col("c.item_id").alias("match_id"),
        )
    )
    scored = cand.join(codes, cand["match_id"] == codes["item_id"])
    score = None
    for si in range(m):
        l_si = F.broadcast(
            lut.filter(F.col("si") == si)
            .select(
                F.col("qid"),
                F.col("code").alias(f"__k{si}"),
                F.col("d").alias(f"__d{si}"),
            )
        )
        scored = scored.join(
            l_si,
            (scored["query_id"] == l_si["qid"])
            & (scored[f"__c{si}"] == l_si[f"__k{si}"]),
        ).drop("qid", f"__k{si}")
        term = F.col(f"__d{si}")
        score = term if score is None else score + term

    wn = Window.partitionBy("query_id").orderBy(
        F.col("__score").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("__score", score)
        .withColumn("rk", F.row_number().over(wn))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "match_id",
            F.round("__score", 6).alias("adc_score"), "rk",
        )
    )


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    emb_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Scalar-quantization (SQ8) ANN — the FAISS ScalarQuantizer tier:
    each dimension is independently quantized to 8 bits against its
    corpus-wide [min, max] range, so a d-dim float vector stores as d
    bytes (4x smaller than float32, no codebook training), and queries
    score against the mid-bucket reconstruction by inner product.

    Where it sits in the family: brute (exact) > IVF (cluster pruning)
    > SQ8 (4x memory, near-exact) > PQ/ADC (16-32x memory, coarser).

    Scale shape: the bounds pass is ONE partial aggregate with at most
    ``dim`` groups (map-side collapse, bounded driver collect — the
    codebook contract); encoding is map-only JVM `transform`; scoring
    broadcasts the query set and folds reconstruction·query per pair in
    index order (sequential IEEE adds — the oracle's
    ``list_aggregate('sum')`` order, same pairing `ann_ivf_topk` pins);
    the final per-query top-k runs through `grouped_topk`'s salted
    two-stage rank, so no reducer ever holds a query's full score list.

    Exactness: min/max over floats are order-free, every quantize /
    reconstruct step is straight-line IEEE double arithmetic in fixed
    shape, and codes are exact INTs — a DuckDB oracle replays the whole
    pipeline bit-for-bit (queries.ann_sq8_topk).
    """
    from .topk import grouped_topk

    corpus = corpus.filter(F.col(emb_col).isNotNull())
    first = corpus.select(emb_col).first()
    if first is None or first[0] is None:
        return _empty_topk(corpus.sparkSession)
    dim = len(first[0])
    spark = corpus.sparkSession

    bounds_rows = (
        corpus.select(F.posexplode(emb_col).alias("j", "x"))
        .groupBy("j")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    mins = [0.0] * dim
    maxs = [0.0] * dim
    for r in bounds_rows:
        mins[r.j] = float(r.mn)  # float32 -> double is exact
        maxs[r.j] = float(r.mx)
    bounds = spark.createDataFrame(
        [(mins, maxs)], "mins: array<double>, maxs: array<double>"
    )

    def _code(x, i):
        mn = F.get("mins", i)
        mx = F.get("maxs", i)
        return (
            F.when(mx == mn, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(255),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (x.cast("double") - mn) * F.lit(255.0) / (mx - mn)
                        ).cast("int"),
                    ),
                )
            )
            .cast("int")
        )

    enc = corpus.crossJoin(F.broadcast(bounds)).select(
        F.col(corpus_id).cast("long").alias("match_id"),
        F.transform(emb_col, _code).alias("codes"),
        "mins",
        "maxs",
    )

    q = queries.filter(F.col(emb_col).isNotNull()).select(
        F.col(query_id).cast("long").alias("query_id"),
        F.col(emb_col).alias("__q"),
    )

    def _term(acc, j):
        mn = F.get("mins", j)
        mx = F.get("maxs", j)
        recon = mn + (F.get("codes", j).cast("double") + F.lit(0.5)) * (
            mx - mn
        ) / F.lit(255.0)
        return acc + recon * F.get("__q", j).cast("double")

    scored = enc.crossJoin(F.broadcast(q)).select(
        "query_id",
        "match_id",
        F.aggregate(
            F.sequence(F.lit(0), F.lit(dim - 1)), F.lit(0.0), _term
        ).alias("score"),
    )
    top = grouped_topk(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("match_id").asc()],
        k,
        salt_on=["query_id", "match_id"],
    )
    return top.select(
        "query_id",
        "match_id",
        F.round("score", 6).alias("score"),
        F.col("rk").cast("long").alias("rk"),
    )


def cell_verdict_select(drift_margin_e6: int) -> list:
    """Shared select list producing the per-cell verdict columns from
    ``cell / ref_count_f / new_count_f / ref_sum / new_sum`` — used by
    both ``ivf_index_upsert`` and the streaming twin so the two verdict
    paths cannot drift apart.

    The cross-multiplied comparisons run in DECIMAL(38,0), not BIGINT
    (ADVICE r13): with per-vector alignment up to 1e6 micro-units,
    ``new_sum·ref_count`` overflows int64 once ``ref_count·new_count``
    exceeds ~9.2e12 — a few million vectors per cell, squarely inside
    the 100 TB target — and Spark wraps silently with ANSI off. Decimal
    products here stay ≤ ~1e30, far inside DECIMAL(38,0)'s range, and
    the comparisons are exact integer arithmetic either way, so verdicts
    are unchanged wherever int64 did not overflow."""
    dec = "decimal(38,0)"
    ref_sum = F.col("ref_sum").cast(dec)
    new_sum = F.col("new_sum").cast(dec)
    ref_cnt = F.col("ref_count_f").cast(dec)
    new_cnt = F.col("new_count_f").cast(dec)
    both = (F.col("ref_count_f") > 0) & (F.col("new_count_f") > 0)
    return [
        "cell",
        F.col("ref_count_f").cast("long").alias("ref_count"),
        F.col("new_count_f").cast("long").alias("new_count"),
        F.when(F.col("ref_count_f") > 0,
               F.col("ref_sum") / (F.col("ref_count_f") * F.lit(1000000.0))
               ).alias("ref_mean_align"),
        F.when(F.col("new_count_f") > 0,
               F.col("new_sum") / (F.col("new_count_f") * F.lit(1000000.0))
               ).alias("new_mean_align"),
        F.when(both, new_sum * ref_cnt < ref_sum * new_cnt
               ).alias("align_degraded"),
        F.when(both, new_sum * ref_cnt
               < ref_sum * new_cnt
               - F.lit(drift_margin_e6).cast(dec) * ref_cnt * new_cnt
               ).alias("drift"),
    ]


def ivf_index_upsert(
    train: DataFrame,
    ref: DataFrame,
    new: DataFrame,
    id_col: str,
    emb_col: str = "embedding",
    n_centroids: int = 16,
    train_sample: int = 20_000,
    train_iters: int = 5,
    seed: int = 42,
    drift_margin_e6: int = 50_000,
) -> DataFrame:
    """Assign-only IVF index maintenance (r13) — the freshness half of
    the ANN ladder's lifecycle, the FAISS production recipe: the coarse
    quantizer trains ONCE on the ``train`` slice of the old corpus epoch
    and is FROZEN; NEW vectors are absorbed by assignment only (one
    distributed map, no retrain). Drift is judged against ``ref`` — the
    old epoch's HELD-OUT calibration slice — never against the training
    members themselves: trained members are overfit-aligned to their own
    centroids (observed: comparing new vs train flags every cell on a
    stationary corpus), while held-out-vs-held-out compares like with
    like. Emits one row per cell with occupancy and alignment health:

      * ``ref_mean_align`` / ``new_mean_align`` — mean cosine of each
        held-out slice's members to their assigned (frozen) centroid;
      * ``align_degraded`` — new members align strictly worse than the
        calibration slice (margin 0: fires both ways on any real split);
      * ``drift`` — degradation exceeds ``drift_margin_e6`` micro-units
        (0.05 default): the cell's incoming distribution has shifted
        enough that the frozen quantizer should be retrained. On a
        stationary corpus this is False everywhere — that IS the
        signal a monitoring pipeline wants.

    Exactness discipline: per-vector alignment replays the oracle's
    fold exactly — per-element normalize (x/nrm), zip-multiply against
    the centroid, left-to-right sum — then quantizes to floor(cos·1e6)
    BIGINT per vector, so the per-cell sums are EXACT integers, means
    are one IEEE division each, and both verdicts are all-integer
    cross-multiplications (new_sum·ref_cnt vs ref_sum·new_cnt −
    margin·ref_cnt·new_cnt). The only float risk is the measure-zero
    floor-boundary class the k-means oracles already accept.

    100 TB shape: training is the bounded-sample driver recipe;
    assignment is ids-only mapInPandas; alignment is a pure-JVM fold
    against a broadcast 16-row centroid frame; ONE groupBy(cell) agg
    per epoch — cells, not vectors, reach the driver.
    """
    spark = train.sparkSession
    out_schema = (
        "cell int, ref_count bigint, new_count bigint, "
        "ref_mean_align double, new_mean_align double, "
        "align_degraded boolean, drift boolean"
    )
    train = train.filter(F.col(emb_col).isNotNull())
    ref = ref.filter(F.col(emb_col).isNotNull())
    new = new.filter(F.col(emb_col).isNotNull())
    if train.select(emb_col).first() is None:
        # no training epoch -> no index to maintain
        return spark.createDataFrame([], out_schema)
    cents = _train_centroids(train, emb_col, n_centroids, train_sample,
                             train_iters, seed, init="hash", id_col=id_col)
    cents_df = spark.createDataFrame(
        [(int(ci), [float(x) for x in c]) for ci, c in enumerate(cents)],
        "cell int, cvec array<double>",
    )

    def epoch_stats(df: DataFrame, prefix: str) -> DataFrame:
        asg = _assign_df(df, id_col, emb_col, cents, 1)
        src = df.select(
            F.col(id_col).cast("long").alias("item_id"),
            F.col(emb_col).cast("array<double>").alias("__e"),
        )
        j = (
            asg.withColumnRenamed("cluster", "cell")
            .join(src, "item_id")
            .join(F.broadcast(cents_df), "cell")
        )
        # oracle-fold alignment: normalize per element, zip-multiply,
        # left-to-right sum (≡ DuckDB list_transform + list_aggregate)
        nrm = F.sqrt(F.aggregate(
            F.transform("__e", lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x,
        ))
        en = F.transform("__e", lambda x: x / nrm)
        dot = F.aggregate(
            F.zip_with(en, F.col("cvec"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        a_e6 = F.floor(dot * F.lit(1000000.0)).cast("long")
        return (
            j.select("cell", a_e6.alias("__a"))
            .groupBy("cell")
            .agg(
                F.count("*").alias(f"{prefix}_count"),
                F.sum("__a").alias(f"{prefix}_sum"),
            )
        )

    o, n = epoch_stats(ref, "ref"), epoch_stats(new, "new")
    spine = cents_df.select("cell")
    oc, nc = F.coalesce("ref_count", F.lit(0)), F.coalesce("new_count", F.lit(0))
    return (
        spine.join(F.broadcast(o), "cell", "left")
        .join(F.broadcast(n), "cell", "left")
        .withColumn("ref_count_f", oc)
        .withColumn("new_count_f", nc)
        .select(*cell_verdict_select(drift_margin_e6))
    )


def assign_align_e6(
    df: DataFrame, id_col: str, emb_col: str, cents
) -> DataFrame:
    """(item_id, cell, align_e6): frozen-quantizer assignment PLUS the
    oracle-order alignment quantization in ONE Arrow pass — the
    streaming-safe sibling of ``ivf_index_upsert``'s ids-only
    assign-then-join-back (a stream cannot self-join its assignment
    back onto its embeddings without watermark machinery).

    Exactness contract (scoped precisely — VERDICT r13 nit): the
    ALIGNMENT QUANTIZATION is bit-exact with the batch fold by
    construction — the squared-norm and alignment sums accumulate with
    one vectorized IEEE add per dimension in ascending index order (a
    loop over columns, never BLAS/pairwise reduction), the normalization
    divides per element, and the floor to micro-units replays F.floor —
    so given the same cell assignment, per-vector ``align_e6`` equals
    the batch operator's exactly. CELL ASSIGNMENT itself goes through a
    BLAS matmul argmax over the left-to-right-normalized vectors, while
    the batch side's ``_assign_df`` normalizes with ``np.linalg.norm``
    (pairwise summation): a last-ulp norm difference can in principle
    flip the argmax on a vector whose top-two cosines are within one ulp
    of each other. Exact ties resolve identically in both paths (NumPy
    argmax: lowest cell index wins — pinned by test), near-ties are
    measure-zero on the md5-derived fixtures, and a flip would move a
    vector between two equally-valid cells of the frozen quantizer."""
    out_schema = T.StructType([
        T.StructField("item_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("align_e6", T.LongType()),
    ])
    src = df.select(
        F.col(id_col).cast("long").alias("item_id"),
        F.col(emb_col).cast("array<double>").alias("__e"),
    )
    b_cents = _track_broadcast(df.sparkSession.sparkContext.broadcast(cents))

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cts = b_cents.value  # (C, dim), unit-norm
        dim = cts.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["__e"].to_numpy()).astype(np.float64)
            acc2 = np.zeros(len(X))
            for j in range(dim):  # left-to-right fold == F.aggregate
                acc2 = acc2 + X[:, j] * X[:, j]
            nrm = np.sqrt(acc2)
            nrm[nrm == 0] = 1.0
            Xn = X / nrm[:, None]
            sims = Xn @ cts.T
            asg = sims.argmax(axis=1)
            C = cts[asg]
            acc = np.zeros(len(X))
            for j in range(dim):
                acc = acc + Xn[:, j] * C[:, j]
            yield pd.DataFrame({
                "item_id": pdf["item_id"].to_numpy().astype(np.int64),
                "cell": asg.astype(np.int32),
                "align_e6": np.floor(acc * 1e6).astype(np.int64),
            })

    return src.mapInPandas(compute, schema=out_schema)
