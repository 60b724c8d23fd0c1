"""Generate sf1-scale documents/embeddings/events parquet for the non-clip
bench families (round-4 verdict item 3).

The sandbox's driver testdata stops at sf0.1 (documents 5k, embeddings 2k,
events 100k); the clip families already have real 10x sf1 fixtures
(fixture_io.ensure_fixture_pandas at 2M clips), but the doc/dedup/ANN/corpus/event
queries reran at sf0.1 via symlink in round 4 — a steady-state cross-check,
not scale evidence. This script synthesizes a DISTRIBUTION-MATCHED 10x
version of the three aux tables (seeded, no external data):

- documents: 50k rows over the same 31-word vocabulary, 10-100 words/doc,
  lang en 40% / de,es,fr,zh 15% each, 20 uniform sources, plus the same
  duplication texture scaled up — ~0.16% exact-dup groups and a planted
  near-dup tail (word-substituted copies) so minhash/simhash/jaccard do
  real candidate work instead of scanning a dup-free corpus.
- embeddings: 20k rows, dim 64 float, 10 Gaussian label clusters (matching
  the observed label cardinality and the ~3% above-0.4-cosine pair rate at
  small sf), plus planted near-identical pairs for the neardup family.
- events: 1M rows over the same 5 event types, 30-day Jan-2024 window,
  user_id 10x wider, exp-ish value distribution, {"k": int} props.

TPC-H tables have no sf1 parquet in this sandbox; they are symlinked from
sf0.1 (documented as steady-state in BENCH.md).

Usage: python scripts/gen_aux_sf.py [out_dir] [scale]
  out_dir default .bench_fixtures/sf1  scale default 10 (x sf0.1)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def gen_documents(n: int, rng: np.random.Generator) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=ln)]) for ln in lens]
    # duplication texture: last ~0.5% of ids copy an earlier doc — half
    # exact, half near (one word substituted) — so dedup operators see the
    # same candidate structure the small-sf driver tables have.
    n_dup = max(8, n // 200)
    src_ids = rng.integers(0, n - n_dup, size=n_dup)
    for j, sid in enumerate(src_ids):
        i = n - n_dup + j
        if j % 2 == 0:
            texts[i] = texts[sid]
        else:
            w = texts[sid].split(" ")
            w[int(rng.integers(0, len(w)))] = "dupword"
            texts[i] = " ".join(w)
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    sources = np.array([f"src{i % 20}" for i in range(n)])
    rng.shuffle(sources)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def gen_embeddings(n: int, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    # the driver's embeddings are ISOTROPIC unit vectors — labels carry no
    # cosine structure (measured: same-label mean cos 1.8e-5 at sf0.1), and
    # the >=0.4-cosine pairs are just the N(0, 1/sqrt(dim)) tail. Matching
    # that matters: clustered vectors would make every similarity query's
    # candidate/answer size quadratic in a way the driver tables aren't.
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    # planted near-identical tail for the neardup family (~0.5%)
    n_nd = max(4, n // 200)
    src = rng.integers(0, n - n_nd, size=n_nd)
    vecs[n - n_nd :] = vecs[src] + rng.standard_normal((n_nd, dim)).astype(np.float32) * 0.02
    labels[n - n_nd :] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def gen_events(n: int, rng: np.random.Generator) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = t0 + rng.integers(0, span_us, size=n).astype("timedelta64[us]")
    ts = np.sort(ts)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, 15000, size=n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def main() -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, ".bench_fixtures", "sf1")
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    marker = os.path.join(out, f"_AUX_OK_{scale}")
    if os.path.exists(marker):
        print(f"already generated: {out}")
        return
    rng = np.random.default_rng(42)
    pq.write_table(gen_documents(5000 * scale, rng), os.path.join(out, "documents.parquet"))
    pq.write_table(gen_embeddings(2000 * scale, rng), os.path.join(out, "embeddings.parquet"))
    pq.write_table(gen_events(100_000 * scale, rng), os.path.join(out, "events.parquet"))
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
    open(marker, "w").close()
    print(f"wrote sf{scale / 10:g} aux tables to {out}")


if __name__ == "__main__":
    main()
