"""Scale smoke: run the core curation operators on a generated corpus
10-100x bigger than the sf0.1 fixture, straight from the syntheticdocs
Python DataSource (no files touched). Not part of CI — a manual probe
for "does the plan shape hold when the data grows", e.g.:

    python tools/scale_smoke.py               # 1M docs
    SMOKE_ROWS=5000000 python tools/scale_smoke.py

Prints one timing line per stage. Expect near-linear growth in the
map-only stages (scoring, packing's cumsum) and n-log-n-ish growth in
the shuffling stages (dedup group-by) — superlinear jumps mean a plan
regression worth investigating with .explain().
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def main() -> None:
    rows = int(os.environ.get("SMOKE_ROWS", 1_000_000))
    from pyspark.sql import functions as F

    from quickstart_streaming_agents_spark.functions import text as tx
    from quickstart_streaming_agents_spark.operators.dedup import dedup_exact
    from quickstart_streaming_agents_spark.operators.packing import pack_sequences
    from quickstart_streaming_agents_spark.session import get_spark, ship_package
    from quickstart_streaming_agents_spark.sources.synthetic import register

    spark = get_spark("scale_smoke")
    ship_package(spark)
    register(spark)
    docs = (
        spark.read.format("syntheticdocs")
        .option("rows", rows)
        .option("partitions", spark.sparkContext.defaultParallelism)
        .load()
    )

    only = os.environ.get("SMOKE_STAGES")  # comma list of name substrings

    def stage(name, df, t0=None):
        if only and not any(tok.strip() in name
                            for tok in only.split(",") if tok.strip()):
            return
        if t0 is None:
            t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        print(f"{name:28s} {time.perf_counter() - t0:7.2f}s  ({rows:,} docs)",
              flush=True)

    stage("generate+score (map-only)", docs.select(
        "doc_id",
        tx.lang_id("text").alias("lang_pred"),
        tx.quality_score("text").alias("quality"),
        tx.token_count("text").alias("n_tokens"),
        tx.doc_fingerprint("text").alias("fingerprint"),
    ))
    scored = docs.select(
        "doc_id", tx.doc_fingerprint("text").alias("fingerprint")
    )
    stage("exact dedup (1 shuffle)", dedup_exact(
        scored, ["fingerprint"], ["doc_id"]
    ))
    stage("sequence packing (1 shuffle)", pack_sequences(
        docs, seq_len=2048,
        num_buckets=spark.sparkContext.defaultParallelism * 4,
    ))
    stage("lang histogram (1 shuffle)", docs.select(
        tx.lang_id("text").alias("lang")
    ).groupBy("lang").count())

    # Capstones end to end at generated scale: curate → exact-dedup →
    # decontaminate → near-dup-cluster → split [→ pack]. These are the two
    # most expensive registered queries; the point is that the plan shape
    # holds when the corpus is 10-100x the sf0.1 fixture — no OOM, no
    # driver-side materialization beyond dedup_clusters' bounded
    # convergence counts. Timing wraps BUILD + write because
    # dedup_clusters runs its convergence actions eagerly at build time.
    # Exchange budget: the fixture plans are pinned at 4 / 5
    # (tests/test_plans.py::test_capstone_exchange_counts_pinned); at
    # generated scale the final anti-join correctly flips from broadcast
    # to SortMergeJoin (+1 exchange each) — anything beyond that bound
    # means a corpus-sized reshuffle crept in.
    from quickstart_streaming_agents_spark.plans import count_exchanges
    from quickstart_streaming_agents_spark.queries import (
        build_packed_shards,
        build_training_pipeline,
    )

    # Round-6 corpus-sized ops: line dedup (2 shuffles, partial-agg
    # winners) and the salted top-k (bounded reducer state by design).
    from quickstart_streaming_agents_spark.operators.dedup import (
        dedup_lines,
        word_window_lines,
    )
    from quickstart_streaming_agents_spark.operators.topk import grouped_topk

    stage("line dedup (2 shuffles)", dedup_lines(
        docs.select("doc_id", word_window_lines("text", 3).alias("lines")),
        "doc_id", "lines"
    ))
    stage("salted top-k (2 shuffles)", grouped_topk(
        docs.select("lang", "doc_id",
                    F.length("text").cast("double").alias("v")),
        keys=["lang"], order=[F.col("v").desc(), F.col("doc_id")], k=5,
    ))

    # Round-7 additions: the fastText-style classifier (map-only JVM
    # fold — must track the generate+score map-only line, i.e. linear
    # at scan speed) and distributed PCA (single moment pass + map-only
    # projection; vectors synthesized from the doc hash so the stage is
    # self-contained).
    from quickstart_streaming_agents_spark.operators.pca import pca
    from quickstart_streaming_agents_spark.operators.sampling import (
        hashed_linear_classifier_score,
    )

    stage("classifier score (map-only)", hashed_linear_classifier_score(
        docs.select("doc_id", "text"), "text"
    ))
    # Winnowing fingerprint fold (shared operator — ONE definition with
    # queries.winnowing_dedup_pairs; the pair join is corpus-statistics-
    # dependent, so the smoke measures the fingerprinting itself).
    from quickstart_streaming_agents_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    stage("winnowing fingerprints", winnowing_fingerprints(
        docs.select("doc_id", "text"), "doc_id", "text"
    ))
    vecs = docs.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (
                F.conv(F.substring(F.md5(F.concat_ws("|", "doc_id", i)), 1, 15),
                       16, 10).cast("double") / F.lit(float(1 << 60))
            ),
        ).alias("embedding"),
    )
    t0 = time.perf_counter()
    stage("pca fit+project (d=16,k=4)", pca(vecs, "embedding", k=4), t0)

    # Round-8: SemDeDup at generated scale — the auto-scaled cluster
    # count (C = max(16, ceil(n/target))) must keep per-cluster
    # population bounded, or the intra-cluster pair join goes quadratic.
    # target=2048 at 1M vectors -> C≈489; assert the realized max
    # population stays within 6x the target (isotropic hash vectors
    # cluster roughly evenly; 6x catches any single-cluster collapse).
    from quickstart_streaming_agents_spark.operators.similarity import (
        semantic_dedup,
    )

    if not only or "semantic" in only:
        t0 = time.perf_counter()
        target = 2048
        sd = semantic_dedup(
            vecs.withColumnRenamed("doc_id", "vec_id"), "vec_id",
            threshold=0.9, target_cluster_size=target,
        )
        pops = sd.groupBy("cluster").count()
        max_pop = pops.agg(F.max("count")).first()[0]
        n_clusters = pops.count()
        assert max_pop <= 6 * target, (
            f"semantic_dedup cluster population unbounded: {max_pop} > {6 * target}"
        )
        print(f"{'semantic dedup (C auto)':28s} {time.perf_counter() - t0:7.2f}s  "
              f"({rows:,} docs)  C={n_clusters} max_pop={max_pop}")

    # Round-13: the PQ-ADC tier at generated scale (VERDICT r12 stretch
    # #8; the IVF-PQ tier runs below with its own cardinality assert).
    # Corpus = `rows` hash vectors (d=16); query set = ~1k sampled ids
    # (far under pq_adc's 100k ADC LUT cap). What must hold: the codes
    # scan emits only per-partition top-k, so the one shuffle stays
    # ≈ k·partitions·|Q| ids, never |corpus|·|Q|; exactly k hits per
    # query means the partial-top-k pruning didn't drop a query.
    from quickstart_streaming_agents_spark.operators.similarity import pq_adc

    if not only or "ann" in only:
        n_q = 1000
        # materialize ids+embeddings once: the ladder makes several full
        # corpus passes (codebook sample, encode, probe-assign, scan) and
        # regenerating the synthetic TEXT corpus for each pass would
        # measure the generator, not the ANN plan (a real corpus is a
        # parquet scan here)
        avecs = vecs.persist()
        avecs.count()
        qvecs = avecs.filter((F.col("doc_id") % F.lit(max(1, rows // n_q))) == 0)
        n_q_real = qvecs.count()
        t0 = time.perf_counter()
        n_adc = pq_adc(qvecs, avecs, "doc_id", "doc_id", k=5, m=2,
                       n_centroids=8).count()
        assert n_adc == n_q_real * 5, (
            f"pq_adc dropped queries: {n_adc} != {n_q_real} * 5"
        )
        avecs.unpersist()
        print(f"{'ann pq-adc (m=2, k=5)':28s} {time.perf_counter() - t0:7.2f}s  "
              f"({rows:,} corpus, {n_q_real} queries)", flush=True)

    # Round-8: exact-integer PageRank at generated scale (the one
    # intentionally iterative op — O(iters) shuffles by design) and the
    # Morton-key layout pass (map-only key + one range exchange).
    from quickstart_streaming_agents_spark.operators.components import (
        pagerank_int,
    )
    from quickstart_streaming_agents_spark.operators.layout import (
        zorder_repartition,
    )

    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"),
        F.explode(
            F.sequence(F.lit(0), (F.col("node") % 3).cast("int"))
        ).alias("j"),
    ).select(
        "src",
        (F.conv(F.substring(F.md5(F.concat_ws(":", "src", "j")), 1, 15),
                16, 10).cast("bigint") % F.lit(rows)).alias("dst"),
    )
    stage("pagerank 3 iters (int)", pagerank_int(edges, nodes, iters=3))
    stage("zorder layout (1 range ex)", zorder_repartition(
        docs.select("doc_id",
                    (F.col("doc_id") % 1024).alias("x"),
                    (F.xxhash64("doc_id") % 1024 + 1024).alias("y")),
        ["x", "y"], bits=11,
        num_partitions=spark.sparkContext.defaultParallelism,
    ))

    # Round-8b: count-min sketch — fed RAW token occurrences (explode,
    # no per-doc pre-aggregate: the whole point is that the only shuffle
    # is the cells agg, whose key space is d*w no matter the corpus);
    # ASSERT the cap.
    from quickstart_streaming_agents_spark.operators.cms import cms_cells

    if not only or "cms" in only:
        t0 = time.perf_counter()
        occurrences = docs.select(
            F.explode(tx.tokens(F.lower(F.col("text")))).alias("term")
        ).filter(F.col("term") != "")
        cells = cms_cells(occurrences, "term", None, depth=4, width=4096)
        n_cells = cells.count()
        assert n_cells <= 4 * 4096, f"CMS cells unbounded: {n_cells}"
        print(f"{'cms sketch (d=4,w=4096)':28s} {time.perf_counter() - t0:7.2f}s  "
              f"({rows:,} docs)  cells={n_cells}")

    # Round-8b: Bloom-prefiltered decontamination — the bitset stays
    # m/64 longs however big the benchmark, and the prefilter must prune
    # the exact-confirm join's input to a sliver of the corpus shingles.
    from quickstart_streaming_agents_spark.operators.decontamination import (
        _bench_shingle_set,
        _norm_shingle_hashes,
        bloom_bitset,
        bloom_member,
    )

    if not only or "bloom" in only:
        t0 = time.perf_counter()
        m_bits, kk = 1 << 22, 3
        corp_sh = _norm_shingle_hashes(docs, "doc_id", "text", 13)
        bench_sh = _bench_shingle_set(
            docs.filter(F.col("doc_id") % 1000 == 0), "text", 13
        )
        words = bloom_bitset(bench_sh, "h", m_bits=m_bits, k=kk)
        assert len(words) == m_bits // 64
        bloom_df = spark.createDataFrame([(words,)], "bloom: array<bigint>")
        total_sh, cand = (
            corp_sh.crossJoin(F.broadcast(bloom_df))
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    bloom_member(F.col("h"), F.col("bloom"),
                                 m_bits=m_bits, k=kk).cast("long")
                ).alias("c"),
            )
            .first()
        )
        assert cand < 0.1 * total_sh, (
            f"bloom prefilter not pruning: {cand}/{total_sh}"
        )
        print(f"{'bloom decon prefilter':28s} {time.perf_counter() - t0:7.2f}s  "
              f"({rows:,} docs)  candidates={cand:,}/{total_sh:,} "
              f"({100.0 * cand / total_sh:.2f}%)")

    # Round-8c: compressed-ingest tier (Python-tier by necessity — the
    # gzip members must really decompress) and the URL-canonicalization
    # map (pure JVM regexp chain) + page-level keeper agg.
    from quickstart_streaming_agents_spark.functions.text import (
        url_canonicalize,
    )
    from quickstart_streaming_agents_spark.operators.compress import (
        decompress_text,
        gzip_compress,
    )

    t0 = time.perf_counter()

    def gz_synth(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [gzip_compress(t) for t in pdf["text"]],
            })

    gz = docs.select("doc_id", "text").mapInPandas(
        gz_synth, schema="doc_id long, payload binary"
    )
    stage("gzip ingest (map-only)", decompress_text(gz), t0)

    t0 = time.perf_counter()
    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTPS://www.Site"), (d % 997).cast("string"),
        F.lit(".Example.COM/Page/"), (d % 5000).cast("string"),
        F.when(d % 2 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
    )
    canon = docs.select("doc_id", url_canonicalize(url).alias("c"))
    keep = canon.groupBy("c").agg(F.min("doc_id").alias("keeper"))
    stage("url canonical dedup", keep, t0)

    # Round-9 (VERDICT r8 #8): the perceptual-hash and audio-fingerprint
    # banded-LSH dedup joins at corpus scale. Band frames synthesize in
    # pure JVM (the Python decode tiers' throughput is measured
    # separately — 144k docs/s gzip-class); ~3 docs share each base id
    # and a third of them perturb ONE band, so candidate generation,
    # hot-bucket caps and the pigeonhole confirm all fire.
    from quickstart_streaming_agents_spark.operators.afp import (
        audio_near_dup_pairs,
    )
    from quickstart_streaming_agents_spark.operators.phash import (
        phash_near_dup_pairs,
    )

    t0 = time.perf_counter()
    base = (F.col("doc_id") % F.lit(max(rows // 3, 1))).alias("__b")
    perturb = F.col("doc_id") % 3 == 1
    ph = docs.select("doc_id", base).select(
        "doc_id",
        *[
            (
                F.abs(F.xxhash64(F.col("__b"), F.lit(j)))
                % F.lit(1 << 16)
                + F.when(
                    perturb & (F.col("doc_id") % 4 == j), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias(f"b{j}")
            for j in range(4)
        ],
    )
    pairs = phash_near_dup_pairs(ph, "doc_id", max_hamming=3)
    n_ex = count_exchanges(pairs)
    # raw pre-AQE count over the stats-less synthetic source: SMJ on
    # (band, value) shuffles both sides + hot-band agg + pair distinct
    assert n_ex <= 6, f"phash dedup exchanges regressed: {n_ex} > 6"
    stage(f"phash banded dedup ({n_ex} exch)", pairs, t0)

    # 32 windows (8 per quarter), not the fixture default 8: bit_length
    # buckets span only ~41 values, so 2-window quarter digests have
    # ~41^2 combos and SATURATE past ~100k clips (every band hot ->
    # quadratic candidates). Window count is the operator's documented
    # scale knob — 41^8 quarter combos keep bands sparse at any corpus
    # size (operators/afp.py docstring).
    t0 = time.perf_counter()
    n_w = 32
    bucket = [
        (
            F.abs(F.xxhash64(F.col("__b"), F.lit(100 + w))) % F.lit(40)
            + F.when(
                perturb & (F.col("doc_id") % n_w == w), F.lit(1)
            ).otherwise(F.lit(0))
        ).cast("string")
        for w in range(n_w)
    ]
    sig = F.concat_ws(":", *bucket)
    q = n_w // 4
    afp = docs.select("doc_id", base).select(
        "doc_id",
        sig.alias("sig"),
        *[
            F.md5(F.concat_ws(":", *bucket[q * j : q * (j + 1)]))
            .alias(f"b{j}")
            for j in range(4)
        ],
    )
    apairs = audio_near_dup_pairs(afp, "doc_id", max_diff=1)
    n_ex = count_exchanges(apairs)
    assert n_ex <= 6, f"afp dedup exchanges regressed: {n_ex} > 6"
    stage(f"afp banded dedup ({n_ex} exch)", apairs, t0)

    t0 = time.perf_counter()
    flagship = build_training_pipeline(docs)
    n_ex = count_exchanges(flagship)
    assert n_ex <= 5, f"training pipeline exchanges regressed: {n_ex} > 5"
    stage(f"training pipeline ({n_ex} exch)", flagship, t0)
    spark.catalog.clearCache()  # release the pipeline's persisted stage

    t0 = time.perf_counter()
    packed = build_packed_shards(
        docs, seq_len=2048,
        num_buckets=spark.sparkContext.defaultParallelism * 4,
    )
    n_ex = count_exchanges(packed)
    assert n_ex <= 6, f"packed shards exchanges regressed: {n_ex} > 6"
    stage(f"packed shards ({n_ex} exch)", packed, t0)
    spark.catalog.clearCache()

    # Round-10 (VERDICT r9 #8): the r9 operator families at corpus scale.
    # (a) HLL registers + estimate — the whole point is bounded state:
    # the aggregate output must stay ≤ strata × 2^p rows at ANY corpus
    # size, asserted.
    from quickstart_streaming_agents_spark.operators.hll import (
        hll_estimate,
        hll_registers,
    )

    t0 = time.perf_counter()
    if not only or "hll" in only:
        vals = docs.select(
            (F.col("doc_id") % 5).cast("string").alias("stratum"),
            F.col("doc_id").cast("string").alias("v"),
        )
        regs = hll_registers(vals, "v", strata=["stratum"], p=10)
        n_regs = regs.count()
        assert n_regs <= 5 * (1 << 10), f"HLL registers unbounded: {n_regs}"
        est = hll_estimate(regs, strata=["stratum"], p=10)
        stage(f"hll registers+estimate ({n_regs} regs)", est, t0)

    # (b) IVF-PQ ANN — broadcast codebooks + cell-pruned candidates;
    # JVM-synthesized 16-dim embeddings, 200 queries against the corpus.
    from quickstart_streaming_agents_spark.operators.similarity import (
        ann_ivf_pq,
    )

    if not only or "ivf" in only or "ann" in only:
        t0 = time.perf_counter()
        emb = F.array(*[
            ((F.xxhash64(F.col("doc_id"), F.lit(j)) % 1000) / 500.0 - 1.0)
            for j in range(16)
        ])
        corpus = docs.select(F.col("doc_id").alias("cid"), emb.alias("embedding"))
        queries_df = corpus.filter(F.col("cid") % (rows // 200 or 1) == 0) \
            .select(F.col("cid").alias("qid"), "embedding")
        topk = ann_ivf_pq(queries_df, corpus, "qid", "cid",
                          n_cells=32, n_probe=4, m=4).cache()
        n_topk = topk.count()
        n_q200 = queries_df.count()
        # r13: assert the cardinality contract, not just the timing —
        # exactly k hits per query proves the cell-pruned candidate set
        # never starved a query and partial-top-k pruning dropped nothing
        assert n_topk == n_q200 * 5, (
            f"ann_ivf_pq dropped queries: {n_topk} != {n_q200} * 5"
        )
        stage(f"ivf-pq ann ({n_q200} queries)", topk, t0)
        topk.unpersist()

    # (c) Python media tiers: WARC demux, EXIF parse, IMA ADPCM decode.
    # Per-row Python synth + walk, measured on a 1/16 slice so the smoke
    # stays minutes, rate printed per-row (the tiers are embarrassingly
    # parallel map stages — full-corpus cost is slice cost × 16).
    from quickstart_streaming_agents_spark.operators.exif import (
        exif_meta,
        insert_app1,
        make_exif_app1,
    )
    from quickstart_streaming_agents_spark.operators.multimodal import (
        make_wav_ima_adpcm,
    )
    from quickstart_streaming_agents_spark.operators.warc import warc_records

    media = docs.filter(F.col("doc_id") % 16 == 0).select("doc_id", "text")
    m_rows = rows // 16

    t0 = time.perf_counter()

    def warc_synth(batches):
        import pandas as pd

        from quickstart_streaming_agents_spark.operators.warc import (
            make_warc,
        )

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [
                    make_warc([
                        ("response", f"https://s{i % 97}.example/p",
                         f"<urn:uuid:{i}-0>", t[:64].encode()),
                        ("request", f"https://s{i % 97}.example/p",
                         f"<urn:uuid:{i}-1>", b"GET /"),
                    ])
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ],
            })

    wz = media.mapInPandas(warc_synth, schema="doc_id long, payload binary")
    stage(f"warc demux (1/16 slice, {m_rows:,})", warc_records(wz), t0)

    from quickstart_streaming_agents_spark.operators.tar import tar_members

    t0 = time.perf_counter()

    def tar_synth(batches):
        import io
        import tarfile as _tarfile

        import pandas as pd

        for pdf in batches:
            payloads = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                buf = io.BytesIO()
                with _tarfile.open(fileobj=buf, mode="w",
                                   format=_tarfile.USTAR_FORMAT) as tf:
                    for k, content in enumerate(
                        (t[:64].encode(), str(i).encode())
                    ):
                        ti = _tarfile.TarInfo(f"s{k}.txt")
                        ti.size = len(content)
                        ti.mtime = 0
                        tf.addfile(ti, io.BytesIO(content))
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    tz = media.mapInPandas(tar_synth, schema="doc_id long, payload binary")
    stage(f"tar demux (1/16 slice, {m_rows:,})", tar_members(tz), t0)

    t0 = time.perf_counter()

    def exif_synth(batches):
        import pandas as pd

        # one tiny shared base JPEG; per-row APP1 inserts vary the fields
        base = bytes.fromhex("ffd8ffdb0043") + b"\x01" * 65 \
            + bytes.fromhex("ffd9")
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [
                    insert_app1(base, make_exif_app1(
                        orientation=1 + i % 8,
                        make=f"Cam{i % 11}", model=f"M{i % 7}",
                        little_endian=bool(i % 2),
                    ))
                    for i in pdf["doc_id"]
                ],
            })

    ez = media.mapInPandas(exif_synth, schema="doc_id long, payload binary")
    stage(f"exif parse (1/16 slice, {m_rows:,})", exif_meta(ez), t0)

    t0 = time.perf_counter()

    def adpcm_synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                amps = np.asarray(
                    [(i * 37 + w * 101) % 32768 - 16384 for w in range(8)],
                    dtype=np.int16,
                )
                payloads.append(make_wav_ima_adpcm(
                    np.repeat(amps, 9), block_samples=9
                ))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    az = media.mapInPandas(adpcm_synth, schema="doc_id long, payload binary")
    from quickstart_streaming_agents_spark.operators.afp import (
        audio_energy_sig,
    )

    stage(
        f"adpcm decode+sig (1/16 slice, {m_rows:,})",
        audio_energy_sig(az, "doc_id", "payload",
                         window_samples=9, n_windows=8),
        t0,
    )

    # ---- round 11 families ----
    t0 = time.perf_counter()
    from quickstart_streaming_agents_spark.operators.dedup import (
        containment_pairs,
        prefix_filter_jaccard_pairs,
    )

    # Dedicated corpus for the exact-threshold joins: the synthetic
    # template docs are quadratically self-similar (~24 tokens from a
    # tiny vocabulary — the TRUE near-dup answer over them is billions
    # of pairs, and no exact algorithm outputs less than its answer;
    # two full-4M attempts filled the disk on candidates that were all
    # REAL). This stage instead smokes the PLAN — wide postings, df
    # pass, rarity-rank window, prefix equi-join, exact verify — on a
    # corpus with a linear planted answer: 12 unique-per-pair tokens
    # (ids 8k and 8k+4 share them -> ~125k planted dup pairs from 1M
    # docs; every shingle df <= 2, the web-corpus rarity profile).
    p_rows = rows // 4
    h = (F.col("doc_id") / 8).cast("long")
    parts = [F.concat(F.lit(c), h) for c in "abcdefghijkl"]
    base = docs.filter(F.col("doc_id") % 4 == 0).select(
        "doc_id",
        F.concat_ws(
            " ", *parts,
            F.when((F.col("doc_id") / 4 % 2) == 1,
                   F.concat(F.lit("z"), F.col("doc_id")))
            .otherwise(F.lit("common")),
        ).alias("text"),
    )
    stage(
        f"prefix-filter jaccard (planted, {p_rows:,})",
        prefix_filter_jaccard_pairs(
            base, "doc_id", "text",
            gram_n=3, threshold_bp=6000, max_token_df=1000,
        ),
        t0,
    )

    t0 = time.perf_counter()
    stage(
        f"containment pairs (planted, {p_rows:,})",
        containment_pairs(base, "doc_id", "text", n=3,
                          threshold_bp=8000, max_shingle_df=1000),
        t0,
    )

    t0 = time.perf_counter()

    def codec_synth(batches):
        import bz2 as _bz2
        import lzma as _lzma

        import pandas as pd

        from quickstart_streaming_agents_spark.operators.compress import (
            gzip_compress,
        )

        for pdf in batches:
            out = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                if i % 4 == 0:
                    out.append(gzip_compress(t))
                elif i % 4 == 1:
                    out.append(_bz2.compress(t.encode(), 1))
                elif i % 4 == 2:
                    out.append(_lzma.compress(t.encode(),
                                              format=_lzma.FORMAT_XZ,
                                              preset=0))
                else:
                    out.append(t.encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": out})

    from quickstart_streaming_agents_spark.operators.compress import (
        sniff_decompress_text,
    )

    cz = media.mapInPandas(codec_synth, schema="doc_id long, payload binary")
    stage(f"codec sniff ingest (1/16 slice, {m_rows:,})",
          sniff_decompress_text(cz), t0)

    t0 = time.perf_counter()
    from quickstart_streaming_agents_spark.functions.text import (
        url_canonicalize,
    )
    from quickstart_streaming_agents_spark.operators.web import (
        extract_links,
        robots_rules_table,
        robots_verdicts,
    )

    d = F.col("doc_id")
    page = docs.select(
        "doc_id",
        F.concat(
            F.lit('<a href="http://h'), (d % 997),
            F.lit(".example.com/p/"), (d % 13),
            F.lit("?utm_source=t"), (d % 2), F.lit('">x</a>'),
        ).alias("html"),
    )
    bodies = spark.createDataFrame(
        [(f"h{i}.example.com",
          f"User-agent: *\nDisallow: /p/{i % 4}\n"
          f"Allow: /p/{i % 4}/pub\n") for i in range(997)],
        "host string, robots_txt string",
    )
    links = extract_links(page, "doc_id", "html")
    verdicts = robots_verdicts(links, F.broadcast(robots_rules_table(bodies)))
    frontier = verdicts.select(
        "host", "allowed", url_canonicalize(F.col("url")).alias("cu")
    ).groupBy("host").agg(
        F.count("*").alias("n_links"),
        F.sum(F.col("allowed").cast("long")).alias("n_allowed"),
        F.count_distinct(F.when(F.col("allowed"), F.col("cu")))
        .alias("n_pages"),
    )
    stage("crawl frontier (links+robots)", frontier, t0)

    # --- round 11b families ------------------------------------------------
    # Readability: pure-JVM integer counts, map-only — full corpus.
    rc = tx.readability_counts("text")
    stage("readability counts (map-only)", docs.select(
        "doc_id", rc["n_words"].alias("w"), rc["flesch_e3"].alias("f"),
    ))

    # TF-IDF top terms: the postings shuffle at full corpus size — the
    # real scale test for the shared-postings plan.
    from quickstart_streaming_agents_spark.operators.retrieval import (
        tfidf_top_terms,
    )

    t0 = time.perf_counter()
    stage("tfidf top terms (postings shuffle)",
          tfidf_top_terms(docs.select("doc_id", "text"), k=3), t0)

    # HITS: 2 exact-integer iterations over a corpus-sized graph
    # (~2 edges/node) — the O(iters) edge-join shuffle budget. scale
    # drops to 1e4 here: the overflow guard (raw_mass·scale must fit a
    # long) correctly REFUSES 8M edges × 1e6 — the documented re-scale
    # knob in action, verified live by this smoke.
    from quickstart_streaming_agents_spark.operators.components import (
        hits_int,
    )

    t0 = time.perf_counter()
    nodes = docs.select("doc_id")
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(F.lit(0), F.lit(1))).alias("j"),
    ).select(
        "src",
        (F.xxhash64("src", "j").bitwiseAND(F.lit((1 << 62) - 1))
         % F.lit(rows)).alias("dst"),
    )
    stage("hits 2-iter (integer graph)",
          hits_int(edges, nodes, node_id="doc_id", iters=2, scale=10_000), t0)

    # Preference pairs: one packed-key aggregate over the full corpus.
    t0 = time.perf_counter()
    packed = (F.xxhash64("doc_id").bitwiseAND(F.lit((1 << 20) - 1))
              * F.lit(100_000_000) + F.col("doc_id") % 100_000_000)
    pref = (
        docs.select((F.col("doc_id") % (rows // 8)).alias("g"),
                    packed.alias("p"))
        .groupBy("g").agg(F.max("p").alias("b"), F.min("p").alias("w"))
        .filter(F.col("b") != F.col("w"))
    )
    stage("preference pairs (1 agg)", pref, t0)

    # Politeness token bucket: per-host sequential recurrence behind
    # ONE applyInPandas shuffle — rows/host stays bounded (corpus/8k
    # hosts), the crawl frontier's natural sharding.
    from quickstart_streaming_agents_spark.operators.politeness import (
        token_bucket_verdicts,
    )

    t0 = time.perf_counter()
    reqs = docs.select(
        (F.col("doc_id") % 8192).alias("host"),
        F.col("doc_id").alias("req_id"),
        (F.lit(1_700_000_000_000) + F.xxhash64("doc_id")
         .bitwiseAND(F.lit((1 << 40) - 1))).alias("ts_ms"),
    )
    stage("politeness bucket (1 shuffle)",
          token_bucket_verdicts(reqs, host_col="host", ts_ms_col="ts_ms",
                                id_col="req_id"), t0)

    # Container walks: per-row Python synth + walk on the 1/16 slice
    # (map-only — full-corpus cost = slice × 16).
    from quickstart_streaming_agents_spark.operators.avro_ocf import (
        ocf_block_index,
    )
    from quickstart_streaming_agents_spark.operators.flac import (
        flac_stream_meta,
    )
    from quickstart_streaming_agents_spark.operators.ogg import ogg_pages

    t0 = time.perf_counter()

    def flac_synth(batches):
        import pandas as pd

        from quickstart_streaming_agents_spark.operators.flac import (
            make_flac,
        )

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [
                    make_flac(8000 + (i % 5) * 8000, 1 + i % 2, 16,
                              1000 + i % 9999,
                              tags={"TITLE": f"T{i % 101}"})
                    for i in pdf["doc_id"]
                ],
            })

    fz = media.mapInPandas(flac_synth, schema="doc_id long, payload binary")
    stage(f"flac probe (1/16 slice, {m_rows:,})",
          flac_stream_meta(fz), t0)

    t0 = time.perf_counter()

    def ogg_synth(batches):
        import pandas as pd

        from quickstart_streaming_agents_spark.operators.ogg import (
            make_ogg_page,
        )

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [
                    make_ogg_page([t[:64].encode() or b"x"],
                                  granule=i, serial=i % 97, seq=0,
                                  bos=True, eos=True)
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ],
            })

    oz = media.mapInPandas(ogg_synth, schema="doc_id long, payload binary")
    stage(f"ogg demux+crc (1/16 slice, {m_rows:,})", ogg_pages(oz), t0)

    t0 = time.perf_counter()

    def ocf_synth(batches):
        import pandas as pd

        from quickstart_streaming_agents_spark.operators.avro_ocf import (
            make_ocf,
        )
        from quickstart_streaming_agents_spark.sources.avro import (
            _write_long,
        )

        schema = ('{"type":"record","name":"D","fields":'
                  '[{"name":"s","type":"string"}]}')

        def enc(s):
            out = bytearray()
            _write_long(out, len(s))
            return bytes(out) + s.encode()

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "payload": [
                    make_ocf([[enc(t[:48])], [enc(f"r{i}")]], schema)
                    for i, t in zip(pdf["doc_id"], pdf["text"])
                ],
            })

    az = media.mapInPandas(ocf_synth, schema="doc_id long, payload binary")
    stage(f"avro ocf index (1/16 slice, {m_rows:,})", ocf_block_index(az), t0)

    # Parquet footers: pyarrow WRITE dominates (~0.2 ms/file) — 1/64
    # slice keeps the stage bounded; the walk itself is header-tier.
    from quickstart_streaming_agents_spark.operators.parquet_meta import (
        parquet_footer_index,
    )

    pq_slice = docs.filter(F.col("doc_id") % 64 == 0).select("doc_id")
    t0 = time.perf_counter()

    def pq_synth(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                n = 1 + i % 40
                t = pa.table({"id": list(range(n))})
                sink = pa.BufferOutputStream()
                pq.write_table(t, sink, row_group_size=16)
                payloads.append(sink.getvalue().to_pybytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    pz = pq_slice.mapInPandas(pq_synth, schema="doc_id long, payload binary")
    stage(f"parquet footer walk (1/64 slice, {rows // 64:,})",
          parquet_footer_index(pz), t0)

    # ---- round 12: r11b families not yet covered at scale ----
    # charset sniff — the query's synth moved JVM-side (BOM byte strings
    # are latin-1-representable, so encode(str, ISO-8859-1) is
    # byte-transparent): map-only, zero Python even in synth.
    t0 = time.perf_counter()
    from quickstart_streaming_agents_spark.functions.text import (
        bom_detect,
        meta_charset,
        resolve_charset,
    )

    bom_strs = ["\xef\xbb\xbf", "\xff\xfe", "\xfe\xff",
                "\xff\xfe\x00\x00", "\x00\x00\xfe\xff", "", ""]
    labels = ["windows-1252", "iso-8859-1", "shift_jis", "gb2312", "utf-8"]
    body = F.when(
        F.col("doc_id") % 29 == 0,
        F.concat(F.lit("garbage:"), F.col("doc_id").cast("string")),
    ).otherwise(F.concat(
        F.element_at(F.array(*[F.lit(b) for b in bom_strs]),
                     (F.col("doc_id") % 7 + 1).cast("int")),
        F.lit("<html><head>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<meta charset="'),
                F.element_at(F.array(*[F.lit(x) for x in labels]),
                             (F.col("doc_id") % 5 + 1).cast("int")),
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</head><body>"), F.substring("text", 1, 64),
        F.lit("</body></html>"),
    ))
    cz = docs.select("doc_id", F.encode(body, "ISO-8859-1").alias("payload"))
    bom = bom_detect("payload")
    meta = meta_charset(F.decode(F.col("payload"), "ISO-8859-1"))
    stage("charset sniff (map-only)", cz.select(
        "doc_id", bom.alias("bom"), meta.alias("meta_charset"),
        resolve_charset(bom, meta).alias("resolved"),
    ), t0)

    # jsonl permissive ingest — line build + from_json, all JVM map-only
    t0 = time.perf_counter()
    line = F.concat(
        F.lit('{"id": '), F.col("doc_id"),
        F.lit(', "lang": "'), F.col("lang"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(""))
        .otherwise(F.concat(F.lit('", "score": '), F.col("doc_id") % 100,
                            F.lit("}"))),
    )
    parsed = F.from_json(
        line, "id long, lang string, score long, _corrupt_record string",
        {"mode": "PERMISSIVE",
         "columnNameOfCorruptRecord": "_corrupt_record"},
    )
    stage("jsonl ingest (map-only)", docs.select(
        "doc_id", parsed.alias("p")
    ).select("doc_id", "p.id", "p.lang", "p.score",
             F.col("p._corrupt_record").isNotNull().alias("is_corrupt")), t0)

    # bitext margin at a larger embedding count (50k x 50k, d=16): two
    # broadcast top-k passes + explode + broadcast join + per-src argmax
    # — the exact queries.bitext_mining_margin shape with synthetic
    # hash-unit vectors.
    t0 = time.perf_counter()
    from pyspark.sql import Window

    from quickstart_streaming_agents_spark.functions.vector import vector_search

    b_rows = min(rows // 40, 100_000)
    vec = F.expr(
        "transform(sequence(1, 16), i -> "
        "cast(pmod(xxhash64(doc_id, i), 2000) - 1000 as double) / 1000.0)"
    )
    ve = docs.filter(F.col("doc_id") < 2 * b_rows).select(
        F.col("doc_id").alias("vec_id"), vec.alias("embedding"),
        (F.col("doc_id") % 2).alias("side"),
    )
    bsrc = ve.filter(F.col("side") == 0).select("vec_id", "embedding")
    btgt = ve.filter(F.col("side") == 1).select("vec_id", "embedding")

    def topk_with_avg(queries_df, corpus, qid_alias):
        out = vector_search(
            queries_df.select(F.col("vec_id").alias(qid_alias), "embedding"),
            corpus, "embedding", k=4,
        )
        avg = F.aggregate(
            "search_results", F.lit(0.0), lambda acc, x: acc + x["score"]
        ) / F.lit(4.0)
        return out.select(qid_alias, "search_results", avg.alias("avgk"))

    fwd = topk_with_avg(bsrc, btgt, "src_id")
    bwd = topk_with_avg(btgt, bsrc, "tgt_id").select(
        "tgt_id", F.col("avgk").alias("abwd")
    )
    cand = (
        fwd.select("src_id", F.col("avgk").alias("afwd"),
                   F.explode("search_results").alias("hit"))
        .select("src_id", "afwd", F.col("hit.vec_id").alias("tgt_id"),
                F.col("hit.score").alias("c"))
        .join(F.broadcast(bwd), "tgt_id")
        .withColumn("margin",
                    F.lit(2.0) * F.col("c") / (F.col("afwd") + F.col("abwd")))
    )
    wsrc = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id").asc()
    )
    stage(f"bitext margin ({b_rows:,}x{b_rows:,}, d=16)", (
        cand.withColumn("brk", F.row_number().over(wsrc))
        .filter((F.col("brk") == 1) & (F.col("margin") > 1.0))
    ), t0)


if __name__ == "__main__":
    main()
