"""Deterministic heavy-tier fixture generator (VERDICT r14 next-round #1).

At sf0.1 the bench cannot measure parallel speedup: every heavy query's
cost is fixed overhead (job launch, codegen, Python worker spin-up) plus
32-thread contention on tiny partitions, so in r14 the 8-core scaling run
beat the 32-core run. There is no sf1 fixture on disk, so this script
derives one deterministically from the read-only sf0.1 fixtures — no
randomness beyond seeded generators, so every invocation reproduces the
exact same bytes, and nothing under /root/testdata is touched.

Scale-up design (R replicas, default 10 — "sf1"):

- **Keys are remapped per replica** (`key + r * (max_key + 1)`) for every
  fact/dimension key domain, so FK joins land exactly as they do at
  sf0.1 and per-key group sizes stay constant: the workload grows
  linearly in rows, never quadratically in per-key density.
- **documents.text goes through a per-replica token-suffix renaming**
  (content token ``t`` becomes ``t{r}`` in replica r; stopword tokens
  are left FIXED so quality-gate selectivity — stopword ratios,
  language ID — is preserved). A renaming of the token alphabet
  preserves shingle equality exactly, so each replica reproduces the
  sf0.1 near-duplicate structure 1:1 (pair counts scale linearly), and
  replicas occupy DISJOINT content-token spaces, so per-shingle and
  per-term document frequency stays CONSTANT as the corpus grows — the
  open-vocabulary regime a real 100 TB corpus lives in. (A first design
  — a vocabulary bijection within the closed 31-token space — was
  rejected by measurement: all replicas then share one saturated
  3-gram space, per-shingle df grows linearly with scale, and
  grouped pair emission grows quadratically — ngram_jaccard_dedup ran
  72 s at sf1 for a workload whose real-corpus analogue is linear.)
  n_chars is recomputed.
- **embeddings go through a per-replica isometry** (seeded dimension
  permutation + sign flips): intra-replica inner products and distances
  are bit-preserved, so cluster/NN structure replicates exactly, while
  cross-replica similarities decorrelate. vec_id offsets keep the
  fixed query sets (vec_id < 20 etc.) pinned to replica 0 — query
  count constant, corpus R x bigger, the realistic ANN scale shape.
- **region/nation are copied unchanged** (bounded reference domains).
- Output parquet is written with **many row groups** (~32+ for the big
  tables) so scan parallelism is real — the single-row-group layout of
  the sf0.1 fixtures is precisely what capped map-stage parallelism at
  one task (a row group is the smallest scan split).

Usage: python tools/gen_heavy_sf.py [--src /root/testdata/sf0.1]
       [--out /tmp/qssa_heavy_sf1] [--replicas 10]
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Tokens whose identity carries semantics for quality gates (stopword
# ratio, language ID hits) — kept fixed under every replica bijection.
_FIXED_TOKENS = {
    "the", "a", "and", "of", "to", "in", "is", "it",
    "le", "la", "et", "der", "die", "und", "el", "los",
}

# (table, [key columns offset per replica by that domain's max+1])
_KEY_DOMAINS = {
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}

_DOMAIN_SOURCE = {
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}


def _seed(tag: str, r: int) -> int:
    h = hashlib.sha256(f"qssa-heavy-{tag}-{r}".encode()).digest()
    return int.from_bytes(h[:8], "big") % (2**31)


def _permute_text(texts: list[str], r: int, vocab: list[str]) -> list[str]:
    """Apply the replica-r content-token renaming to every text."""
    mapping = {
        t: f"{t}{r}" for t in vocab if t not in _FIXED_TOKENS
    }
    out = []
    for s in texts:
        out.append(" ".join(mapping.get(t, t) for t in s.split()))
    return out


def _check_renaming(vocab: list[str], replicas: int) -> None:
    """Raise ``ValueError`` if the suffix renaming would merge two
    distinct tokens: a replica's renamed token equal to a source token
    (``ab`` in replica 1 becomes ``ab1``, already a source token) or to
    another replica's renamed token. A merge would silently add
    cross-token shingle matches the sf0.1 structure does not have."""
    owner = dict.fromkeys(vocab, "the source vocabulary")
    for r in range(1, replicas):
        for t in vocab:
            if t in _FIXED_TOKENS:
                continue
            renamed = f"{t}{r}"
            if renamed in owner:
                raise ValueError(
                    f"replica {r} renames {t!r} to {renamed!r}, which is "
                    f"already a token of {owner[renamed]}"
                )
            owner[renamed] = f"replica {r}"


def _transform_embeddings(mat: np.ndarray, r: int) -> np.ndarray:
    """Per-replica isometry: dim permutation + sign flips (float32-exact)."""
    d = mat.shape[1]
    rng = np.random.default_rng(_seed("emb", r))
    perm = rng.permutation(d)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), size=d)
    return (mat[:, perm] * signs).astype(np.float32)


def generate(src: str, out: str, replicas: int) -> None:
    os.makedirs(out, exist_ok=True)

    # Key-domain extents come from the source tables once.
    extent: dict[str, int] = {}
    for dom, (tbl, col) in _DOMAIN_SOURCE.items():
        t = pq.read_table(os.path.join(src, f"{tbl}.parquet"), columns=[col])
        extent[dom] = int(pc.max(t.column(0)).as_py()) + 1

    for name in ("region", "nation"):
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))

    vocab: list[str] = []
    dtab = pq.read_table(os.path.join(src, "documents.parquet"))
    seen = set()
    for s in dtab.column("text").to_pylist():
        for tok in s.split():
            if tok not in seen:
                seen.add(tok)
                vocab.append(tok)
    vocab.sort()
    _check_renaming(vocab, replicas)

    for name, keys in _KEY_DOMAINS.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = t.num_rows
        parts = []
        for r in range(replicas):
            cols = {}
            for field in t.schema.names:
                col = t.column(field)
                if field in keys:
                    off = r * extent[keys[field]]
                    col = pc.add(col, pa.scalar(off, type=col.type))
                cols[field] = col
            if name == "documents" and r > 0:
                texts = _permute_text(
                    cols["text"].to_pylist(), r, vocab)
                cols["text"] = pa.chunked_array([pa.array(texts)])
                cols["n_chars"] = pa.chunked_array([
                    pa.array([len(s) for s in texts], type=pa.int64())])
            if name == "embeddings" and r > 0:
                mat = np.array(
                    cols["embedding"].to_pylist(), dtype=np.float32)
                mat = _transform_embeddings(mat, r)
                cols["embedding"] = pa.chunked_array([pa.array(
                    [row.tolist() for row in mat],
                    type=t.schema.field("embedding").type)])
            parts.append(pa.table(cols, schema=t.schema))
        big = pa.concat_tables(parts)
        # >=32 row groups on the big tables so scan parallelism is real
        rg = max(1000, big.num_rows // 48)
        pq.write_table(big, os.path.join(out, f"{name}.parquet"),
                       row_group_size=rg)
        print(f"{name}: {n} x {replicas} = {big.num_rows} rows, "
              f"~{big.num_rows // rg + 1} row groups", flush=True)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/qssa_heavy_sf1")
    ap.add_argument("--replicas", type=int, default=10)
    a = ap.parse_args()
    generate(a.src, a.out, a.replicas)
    print(f"heavy fixtures written to {a.out}")
