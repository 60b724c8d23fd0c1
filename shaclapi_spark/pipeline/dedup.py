"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the part that matters at 100 TB):

* exact: ONE map-combinable groupBy on a fixed-width hash of the content —
  never on the raw text (shuffling 100 TB of text to dedup it is the classic
  mistake; shuffling 16-byte digests is ~1000× less data).
* MinHash: signatures are computed JVM-side — explode character shingles,
  then per-doc `min(xxhash64(shingle, seed_i))` for each of the n_hashes
  seeds fused into ONE aggregation; no Python in the path.
* LSH: signatures band-hashed; candidate pairs come from an equi-join on
  (band_id, band_hash) — a co-partitioned self-join, no cross product.
  Candidates are then verified with exact Jaccard (explode + count joins).
* SimHash: token hashes reduced to a 64-bit signature per doc; near-dup
  candidates block on bit-chunks (pigeonhole: hamming ≤ k → some ⌈bits/(k+1)⌉
  chunk equal), verified with `bit_count(a XOR b)` — all JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from shaclapi_spark.pipeline.text import normalize_text


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(content_md5, n_docs, keep_id): one row per duplicated content group."""
    keyed = df.select(
        F.col(id_col).alias("doc"), F.md5(normalize_text(F.col(text_col))).alias("content_md5")
    )
    return (
        keyed.groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Survivor ids: min id per normalized-content group."""
    keyed = df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_md5")
    )
    return (
        keyed.groupBy("content_md5")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


# ---------------------------------------------------------------------------
# the shared stop-bucket defusal
# ---------------------------------------------------------------------------

def drop_hot_groups(df: DataFrame, key_cols, max_bucket: int) -> DataFrame:
    """Remove every row belonging to a ``key_cols`` group larger than
    ``max_bucket`` — the stop-token/stop-bucket defusal shared by all
    blocked self-joins in this package (banded MinHash, pigeonhole
    SimHash/dHash, hyperplane embedding bands, video/audio fingerprint
    tokens). A group that hot makes the downstream candidate equi-join
    quadratic in the group size; dropping it trades bounded recall
    (pairs whose ONLY agreement lives in capped groups) for a join that
    stays linear. Implemented as count → filter > cap → broadcast
    anti-join, so the big relation never shuffles.

    Callers that consume ``df`` more than once around this (the hot-set
    aggregate is one extra consumer) persist it at the call site — the
    helper itself adds no caching."""
    key_cols = list(key_cols)
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > int(max_bucket))
        .select(*key_cols)
    )
    return df.join(F.broadcast(hot), key_cols, "left_anti")


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard (also the LSH verification step)
# ---------------------------------------------------------------------------

def shingle_df(df: DataFrame, id_col: str, text_col: str = "text", k: int = 5) -> DataFrame:
    """Distinct character k-shingles per doc: (doc, shingle). The dynamic
    substring start needs the SQL `transform` form (F.substring takes a
    literal start)."""
    norm = normalize_text(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("doc"), norm.alias("__norm"))
        .select(
            "doc",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, greatest(length(__norm) - {k - 1}, 1)),"
                        f" i -> substring(__norm, i, {k}))"
                    )
                )
            ).alias("shingle"),
        )
        .filter(F.length("shingle") >= 1)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.4,
    block_col: str | None = None,
) -> DataFrame:
    """Exact k-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold),
    computed relationally: explode shingles → self-join on shingle (within an
    optional blocking column) → count intersections → join sizes.
    Fully SQL-expressible → has an exact DuckDB oracle."""
    sh = shingle_df(df, id_col, text_col, k)
    if block_col is not None:
        blocks = df.select(F.col(id_col).alias("doc"), F.col(block_col).alias("__blk"))
        sh = sh.join(blocks, "doc")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    blk = ["__blk"] if block_col else []
    left = sh.select(
        F.col("doc").alias("a"), F.col("shingle").alias("sh_a"), *blk
    )
    right = sh.select(
        F.col("doc").alias("b"),
        F.col("shingle").alias("sh_b"),
        *[F.col(c).alias(f"{c}_b") for c in blk],
    )
    on = (F.col("sh_a") == F.col("sh_b")) & (F.col("a") < F.col("b"))
    if block_col is not None:
        on = on & (F.col("__blk") == F.col("__blk_b"))
    inter = (
        left.join(right, on)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("b"), F.col("sz").alias("size_b"))
    out = (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a", "b", "inter", "size_a", "size_b")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE_61 = (1 << 61) - 1


def _affine_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients; a_i ≤ 2^30 keeps
    a_i * h32 < 2^62 — no bigint overflow under Spark 4 ANSI mode."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 30))
        for _ in range(n_hashes)
    ]


def _perm_col(h, a: int, b: int):
    """Affine permutation (a*h + b) mod 2^61-1 of a 61-bit base hash h,
    computed entirely in 64-bit arithmetic. a*h with a 61-bit h cannot be
    done directly, so the multiply is split: with h = h_hi*2^30 + h_lo and
    a < 2^30,  a*h ≡ rot(pmod(a*h_hi, p)) + a*h_lo  (mod p)  where
    rot(u) = (u >> 31) + (u & (2^31-1))*2^30 uses 2^61 ≡ 1 (mod p).
    Every intermediate stays < 2^62 — no bigint overflow under ANSI mode."""
    p = _MERSENNE_61
    hi = F.shiftrightunsigned(h, 30)
    lo = h.bitwiseAND(F.lit((1 << 30) - 1))
    u = F.pmod(hi * F.lit(a), F.lit(p))
    rot = F.shiftrightunsigned(u, 31) + (
        u.bitwiseAND(F.lit((1 << 31) - 1)) * F.lit(1 << 30)
    )
    return F.pmod(rot + lo * F.lit(a) + F.lit(b), F.lit(p))


def shingle_hash_array(text_col, k: int = 5):
    """array<long> of 61-bit hashes of the distinct k-shingles of a
    normalized text column — a pure per-row expression (no explode)."""
    p = _MERSENNE_61
    norm = normalize_text(text_col)
    # bind the normalized text to a lambda variable before the per-index
    # transform touches it: higher-order functions are interpreted, and a
    # sub-expression inlined into the lambda body re-evaluates per element
    # — norm.substr(i, k) would re-normalize the whole doc once per
    # character position, O(len²) per doc (same fix as text.word_ngrams)
    nested = F.transform(
        F.array(norm),
        lambda t: F.filter(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))
                    ),
                    lambda i: t.substr(i, F.lit(k)),
                )
            ),
            lambda x: F.length(x) >= 1,
        ),
    )
    sh = F.element_at(nested, 1)
    return F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(p)))


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin a low-partition input across the cluster before an
    expensive per-row map. A small corpus arrives as ONE parquet split and a
    pure map never reshuffles, so without this the whole computation
    serializes on one core. At real scale this is a no-op: 100 TB arrives in
    ~million splits, already ≥ default parallelism."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 32,
    k: int = 5,
) -> DataFrame:
    """(doc, sig: array<long>) — per-doc MinHash signature, one fused
    aggregation. The expensive string hash runs ONCE per shingle
    (xxhash64 → 61-bit base, full entropy — a 32-bit base would merge
    colliding shingles across ALL permutations on billion-shingle
    corpora); the n permutations are cheap affine maps (a_i*h + b_i) mod
    2^61-1 of that base (``_perm_col``), the standard universal-hash
    construction — ~n× less string hashing than hashing per seed.

    Plan shape: explode shingles → groupBy(doc) with n fused `min` aggs.
    The exchange is NOT 300×|docs| wide: min is map-combinable and a doc's
    shingles are born co-located (same input row), so the partial
    aggregate collapses to ~1 row/doc per partition before the shuffle —
    only |docs| signature rows cross the wire. The pure-map alternative
    (array transform + array_min per permutation) moves zero rows but
    loses whole-stage codegen — Spark evaluates higher-order-function
    lambdas interpreted per element; measured 3-5× more CPU here."""
    p = _MERSENNE_61
    sh = shingle_df(_spread(df.select(id_col, text_col)), id_col, text_col, k)
    sh = sh.withColumn("__h", F.pmod(F.xxhash64(F.col("shingle")), F.lit(p)))
    aggs = [
        F.min(_perm_col(F.col("__h"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(_affine_params(n_hashes))
    ]
    wide = sh.groupBy("doc").agg(*aggs)
    return wide.select(
        "doc", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_bands: int = 8,
    n_hashes: int = 32,
    max_bucket: int | None = None,
) -> DataFrame:
    """Docs sharing ≥1 LSH band: equi-join on (band, band_hash).

    ``max_bucket`` (optional) is the stop-bucket cap: (band, bhash)
    buckets holding more than ``max_bucket`` signatures are dropped
    via a broadcast anti-join BEFORE the self-join — the same defusal
    device as :func:`pigeonhole_hamming_pairs`. Without it a single
    hot bucket (template/boilerplate-heavy corpora, where one band
    hash collects millions of docs) makes the band self-join quadratic
    in the bucket size. The cost is recall for pairs whose ONLY shared
    band lives in a capped bucket — but a bucket that hot is almost
    always a boilerplate cluster better handled by exact dedup first.
    """
    rows_per_band = n_hashes // n_bands
    bands = sigs.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bhash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", "bk.band", "bk.bhash")

    def pairs(bands: DataFrame) -> DataFrame:
        a = bands.select(F.col("doc").alias("a"), "band", "bhash")
        b = bands.select(F.col("doc").alias("b"), "band", "bhash")
        return (
            a.join(b, ["band", "bhash"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )

    if max_bucket is None:
        return pairs(bands)
    # the capped path reads `bands` three times (hot-bucket agg + both join
    # sides) — persist so the signature explode runs once, materialize the
    # pairs, then release it
    bands = bands.persist()
    try:
        return pairs(
            drop_hot_groups(bands, ["band", "bhash"], max_bucket)
        ).localCheckpoint(eager=True)
    finally:
        bands.unpersist()


def minhash_lsh_neardups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_hashes: int = 32,
    n_bands: int = 8,
    k: int = 5,
    threshold: float = 0.5,
    est_margin: float | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard ≥ threshold.
    Output: (a, b, inter, size_a, size_b).

    Plan shape (the part that matters at 100 TB): `sigs` is consumed up to
    3× (band explode + both sides of the optional estimate join), `cand`
    up to 3× (semi-join doc set + the verification join), and the
    verification relation `sets` twice (a-side + b-side joins) — all three
    are persisted before fan-out so the shingle explode + 32-agg signature
    groupBy, the band self-join, and the corpus semi-join + shingle
    hash-array map each run ONCE (caches are MEMORY_AND_DISK and evicted
    under pressure; the caller materializes the result once).

    Scale levers between candidate generation and the (expensive) exact
    verification join:
    * signature pre-filter (opt-in, est_margin is not None): estimate
      Jaccard as the fraction of equal signature components and drop
      candidates with estimate < threshold - est_margin (≈2.2σ at 32
      hashes) — on template-heavy corpora the band join is near-quadratic
      and this prunes most of it for the cost of 2 small joins. Off by
      default: an unlucky signature estimate can drop a true pair before
      exact verification, so callers opt in at scale where the recall
      trade is explicit;
    * shingle semi-join: exact verification recomputes shingles only for
      docs that actually appear in a surviving candidate pair;
    * stop-bucket cap (opt-in, ``max_bucket``): drop (band, bhash)
      buckets larger than the cap before the candidate join fans out —
      the defusal for template-heavy corpora where a hot bucket makes
      the band self-join quadratic (see :func:`lsh_candidate_pairs`).
      Unlike est_margin this acts BEFORE the join, so the quadratic
      fan-out never materializes."""
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, k).persist()
    cand = lsh_candidate_pairs(sigs, n_bands, n_hashes, max_bucket=max_bucket)
    if est_margin is not None:
        sig_a = sigs.select(F.col("doc").alias("a"), F.col("sig").alias("__sig_a"))
        sig_b = sigs.select(F.col("doc").alias("b"), F.col("sig").alias("__sig_b"))
        est = F.aggregate(
            F.zip_with(
                "__sig_a", "__sig_b", lambda x, y: (x == y).cast("int")
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(n_hashes)
        cand = (
            cand.join(sig_a, "a")
            .join(sig_b, "b")
            .filter(est >= F.lit(threshold - est_margin))
            .select("a", "b")
        )
    cand = cand.persist()
    cand_docs = (
        cand.select(F.col("a").alias("doc"))
        .unionByName(cand.select(F.col("b").alias("doc")))
        .distinct()
    )
    # Exact verification WITHOUT re-exploding shingles: build each candidate
    # doc's distinct-shingle-HASH array once (a pure map — sorted 8-byte longs,
    # ~2.5x narrower in the join shuffle than the 5-char strings) and intersect
    # arrays per pair with JVM `array_intersect`. Counts equal the string-set
    # counts unless two distinct shingles collide in 64-bit xxhash64 (~1e-14
    # per pair — ignorable). The explode-join alternative shuffles
    # |pairs| * |shingles/doc| rows (~100-1000x more) where this moves each
    # pair's two arrays exactly once.
    sets = (
        _spread(df.select(id_col, text_col))
        .join(cand_docs.withColumnRenamed("doc", id_col), id_col, "leftsemi")
        .select(
            F.col(id_col).alias("doc"),
            F.array_sort(shingle_hash_array(F.col(text_col), k)).alias("shset"),
        )
        .persist()
    )
    out = (
        cand.join(sets.select(F.col("doc").alias("a"), F.col("shset").alias("__sa")), "a")
        .join(sets.select(F.col("doc").alias("b"), F.col("shset").alias("__sb")), "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("__sa", "__sb")).alias("inter"),
            F.size("__sa").alias("size_a"),
            F.size("__sb").alias("size_b"),
        )
        .filter(
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            >= threshold
        )
    )
    return out.select("a", "b", "inter", "size_a", "size_b")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc, simhash long): sign-sum of token-hash bits, all JVM expressions.
    One explode + one groupBy with `bits` conditional sums.

    hash_fn: "xxhash64" (default — fastest, JVM xxhash) or "md5_60" (60-bit
    hash from the first 15 hex chars of md5; byte-identical to DuckDB's
    ('0x' || substring(md5(tok),1,15))::BIGINT, which makes the whole
    near-dup relation exactly reproducible in an ANSI-SQL oracle; use
    bits<=60 with it)."""
    if hash_fn == "md5_60" and bits > 60:
        raise ValueError("md5_60 provides 60 hash bits; pass bits <= 60")
    norm = normalize_text(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(F.filter(F.split(norm, " "), lambda x: x != ""))).alias("tok"),
    )
    if hash_fn == "md5_60":
        toks = toks.withColumn(
            "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
        )
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    wide = toks.groupBy("doc").agg(*bit_sums)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return wide.select("doc", sig.alias("simhash"))


def pigeonhole_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    bits: int = 64,
    max_bucket: int | None = None,
) -> DataFrame:
    """(a, b, hamming), a < b: pairs of a signature relation within
    ``max_hamming`` bit flips — the shared pigeonhole device under both
    simhash near-dup detection and perceptual image dHash dedup
    (imagery.dhash_neardups). Candidates come from splitting the
    signature into max_hamming+1 chunks (a qualifying pair must agree on
    ≥1 chunk — LOSSLESS recall by construction), verified with JVM
    ``bit_count(a^b)``, so the output equals brute-force all-pairs while
    the join stays a bounded equi-join.

    ``max_bucket`` (optional) drops (chunk, key) buckets holding more
    signatures than the cap before the join — the standard stop-token
    defusal for degenerate mega-groups, at the cost of missing pairs
    whose agreement lives only in capped buckets."""
    n_chunks = max_hamming + 1
    chunk_bits = bits // n_chunks
    chunks = sig.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col(sig_col), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("ckey"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(F.col(id_col), F.col(sig_col), "ck.chunk", "ck.ckey")
    if max_bucket is not None:
        chunks = drop_hot_groups(chunks, ["chunk", "ckey"], max_bucket)
    a = chunks.select(
        F.col(id_col).alias("a"), F.col(sig_col).alias("sig_a"), "chunk", "ckey"
    )
    b = chunks.select(
        F.col(id_col).alias("b"), F.col(sig_col).alias("sig_b"), "chunk", "ckey"
    )
    return (
        a.join(b, ["chunk", "ckey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash_neardups(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) ≤ max_hamming via
    :func:`pigeonhole_hamming_pairs` — output equals the brute-force
    all-pairs relation exactly (with ``max_bucket`` set, minus pairs
    whose only chunk agreement lives in capped buckets — the stop-bucket
    passthrough, same as every other blocked join here). The signature
    DataFrame (one `bits`-agg groupBy) feeds both sides of the
    self-join, so it is persisted — without it the whole token explode +
    groupBy runs twice."""
    sh = simhash(df, id_col, text_col, bits, hash_fn).persist()
    return pigeonhole_hamming_pairs(
        sh, "doc", "simhash", max_hamming, bits, max_bucket=max_bucket
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (word-n-gram membership vs a held-out set)
# ---------------------------------------------------------------------------

def word_ngram_hashes(text_col, n: int = 8):
    """Array of md5 hashes of word n-grams of the normalized text; empty
    when the doc has fewer than n words. The standard decontamination
    blocking unit (GPT-3/PaLM-style n-gram overlap, word-level n≈8-13)."""
    from shaclapi_spark.pipeline.text import word_ngrams

    return F.transform(word_ngrams(text_col, n), lambda g: F.md5(g))


def contaminated_ids(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Ids of corpus docs sharing ≥1 word n-gram with ANY benchmark text.

    Scale shape: the benchmark n-gram set is distinct-ed and (by default)
    BROADCAST — eval benchmarks are ~10^5-10^6 texts → tens of millions of
    16-byte digests, comfortably broadcastable — so the corpus side is a
    scan + generator + broadcast-hash-semi-join with NO corpus shuffle; the
    only shuffles touch the SMALL relations (the benchmark-side digest
    distinct before the broadcast, and the final distinct over the
    contaminated-id set). Set broadcast_benchmark=False for a benchmark too
    large to broadcast (falls back to a shuffled semi-join on the digest)."""
    bench_text = bench_text_col or text_col
    bench_grams = benchmark.select(
        F.explode(word_ngram_hashes(F.col(bench_text), n)).alias("__g")
    ).distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(word_ngram_hashes(F.col(text_col), n)).alias("__g"),
    )
    return (
        doc_grams.join(bench_grams, "__g", "left_semi").select(id_col).distinct()
    )


def substring_contaminated(
    docs: DataFrame,
    needles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    needle_col: str = "needle",
) -> DataFrame:
    """Exact-substring contamination: (doc id, n_hits) for every corpus
    doc whose text contains ≥1 needle VERBATIM, with the count of
    distinct needles it contains.

    The n-gram variant (:func:`contaminated_ids`) is robust to
    whitespace/case noise but needs ≥n words of overlap; the verbatim
    variant is the complement — it catches short canary strings, exact
    answer keys, and license sentinels of any length.

    Scale shape: the needle relation is distinct-ed and BROADCAST (canary
    sets are small by construction), then evaluated as a broadcast
    nested-loop join with a JVM `contains` predicate — one corpus scan,
    NO corpus shuffle; the only aggregation groups the matched (id,
    needle) pairs. Cost is O(docs × needles) contains-scans, which is the
    honest price of verbatim matching — for needle sets beyond ~10^3 use
    `contaminated_ids`' hashed blocking instead.
    """
    uniq = F.broadcast(
        needles.select(F.col(needle_col).alias("__needle")).distinct()
    )
    hits = docs.select(id_col, text_col).join(
        uniq, F.col(text_col).contains(F.col("__needle")), "inner"
    )
    return hits.groupBy(id_col).agg(
        F.countDistinct("__needle").alias("n_hits")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """The corpus minus every doc `contaminated_ids` flags (left-anti join
    on the id) — drop-in filter step for a training-data pipeline."""
    bad = contaminated_ids(
        docs, benchmark, id_col, text_col, bench_text_col, n, broadcast_benchmark
    )
    return docs.join(bad, id_col, "left_anti")
