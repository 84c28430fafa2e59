"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB case first:

- exact_dedup: one hash-shuffle on a 64-bit fingerprint (not the full
  text), then min-id per group. The only full-data shuffle in the
  family, and it shuffles 8-byte keys.
- MinHash-LSH: per-doc signature is a narrow map-side pass (explode →
  k min-aggregates); candidate generation shuffles (band_id, band_hash)
  pairs — tiny rows — and only verified candidates ever touch text
  again. This is the textbook shingle→minhash→band→bucket-join pipeline
  (Broder 1997; Leskovec/Rajaraman/Ullman ch.3), all in JVM expressions.
- SimHash (Charikar 2002): 64-bit signature per doc from token hashes;
  near-dup = small Hamming distance. Signature build is map-side.
- n-gram Jaccard: exact pairwise verification used as ground truth for
  the approximate families (quadratic — always bound its input).

No row-at-a-time Python UDFs anywhere: signatures use
xxhash64/transform/aggregate expressions. The one Python stage is the
winnowing rolling hash — exact integer arithmetic computed as
Arrow-batched vectorized numpy (mapInPandas), because Catalyst
interprets (does not codegen) the higher-order-function form; the
all-JVM expression twin is kept and equivalence-tested.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from xngin_spark.operators.textstats import tokens
from xngin_spark.operators.util import fan_out, values_df

# Mersenne prime modulus and deterministic per-permutation constants for
# the k minhash functions h_i(x) = (a_i * x + b_i) mod P. P = 2³¹−1 keeps
# a·x ≤ 2⁶² so the expression never overflows BIGINT under ANSI mode;
# a 31-bit minhash space is standard (collision odds ~n/2³¹ per
# permutation are noise for dedup purposes).
_P = (1 << 31) - 1

def _perm_consts(k: int, seed: int = 42) -> list[tuple[int, int]]:
    # deterministic LCG so signatures are reproducible across runs/engines
    out, state = [], seed
    for _ in range(k):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _P
        out.append((a, b))
    return out


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles as an array<string>.

    ``toks`` must be a MATERIALIZED token-array column (an attribute
    from a prior select), not a raw ``split()`` expression: an
    expression captured inside the per-position lambda re-evaluates
    once per shingle — an n-token doc would re-tokenize itself n
    times (measured 3.4x slower at sf0.1)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.array_distinct(grams)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: fingerprint → (keep_id = min id, n_copies).

    Shuffles 8-byte xxhash64 keys, not text. Hash collisions at 64 bits
    are ~n²/2⁶⁵ — at 10¹¹ docs that's ~0.3 expected collisions; use the
    md5 variant if that matters.
    """
    fp = F.xxhash64(F.col(text_col))
    return df.groupBy(fp.alias("fp")).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def md5_long(col: Column) -> Column:
    """Portable 60-bit hash: the first 15 hex digits of md5 as a BIGINT.

    Bit-identical in DuckDB as
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)`` — the
    engine-portable base hash that lets minhash signatures (and any
    other hash-keyed operator) be verified value-for-value by the
    DuckDB oracle. xxhash64 stays the production default (one JVM
    intrinsic vs an md5 digest), but the two paths share every other
    expression, so the oracle-checked variant certifies the shared
    shape."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _sig_agreement(a: Column, b: Column, k: int) -> Column:
    """Fraction of agreeing minhash positions — the colocated
    signature-level Jaccard estimate shared by the pairing and the
    index-screen paths."""
    return (
        F.size(
            F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq)
        ).cast("double")
        / F.lit(float(k))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(id, sig: array<bigint> of length k), entirely map-side.

    A minhash signature is a per-document quantity, so no shuffle is
    needed at all: per row, hash the shingles once
    (x = xxhash64(shingle) mod P), then fold the hashes through a
    k-wide running-min accumulator (one F.aggregate; per element a
    zip_with(acc, k permuted hashes, least)). One pass over the text,
    S·k long-ops per row, no shuffle.

    Shapes that compute the same thing but lose:
    - explode → groupBy(id) → k min-aggregates: pays a shuffle and a
      k-buffer hash aggregate (~6× slower measured);
    - transform(1..k, i → array_min(transform(hashes, …))): interpreted
      higher-order-function evaluation re-evaluates the shingle+hash
      subtree once per permutation — k× the string work.
    Results are bit-identical across all three.

    ``portable=True`` swaps the base hash xxhash64 → md5_long so a
    DuckDB oracle can reproduce the signatures exactly; the permutation
    constants, fold shape, and banding are shared with the production
    path.
    """
    consts = _perm_consts(k)
    A = F.array(*[F.lit(a) for a, _ in consts])
    B = F.array(*[F.lit(b) for _, b in consts])
    base = md5_long if portable else F.xxhash64
    xs = F.transform(
        shingles(F.col("__toks"), shingle_n),
        lambda sh: F.pmod(base(sh), F.lit(_P)),
    )
    sig = F.aggregate(
        xs,
        F.array_repeat(F.lit(_P).cast("long"), k),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(k)),
                lambda i: F.pmod(
                    x * F.element_at(A, i) + F.element_at(B, i), F.lit(_P)
                ),
            ),
            lambda a, h: F.least(a, h),
        ),
    )
    return (
        fan_out(df)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col), sig.alias("sig"))
    )


def _band_buckets(
    sigs: DataFrame,
    id_col: str,
    k: int,
    bands: int,
    portable: bool = False,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bucket) rows from a signature table — THE banding
    expression, defined once: minhash_lsh_pairs, minhash_index_persist
    and minhash_screen all band through here, so the persisted index
    can never silently drift from the in-memory pairing path.

    ``keep`` passes extra columns of ``sigs`` through the explode
    unchanged — a streaming consumer can carry the signature alongside
    its band rows instead of re-deriving it and joining the stream with
    itself (a stream-stream join's state for a value each row already
    had).

    explode_outer + post-filter: plain explode lets
    InferFiltersFromGenerate re-run the whole banding transform inside
    a pushed-down size()>0 guard."""
    r = k // bands
    return (
        sigs.select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        (md5_long if portable else F.xxhash64)(
                            F.array_join(F.slice(F.col("sig"), b * r + 1, r), ",")
                        ).alias("bucket"),
                    ),
                )
            ).alias("bb"),
        )
        .filter(F.col("bb").isNotNull())
        .select(
            id_col,
            *keep,
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard) via banded LSH.

    rows-per-band r = k/bands; candidate capture probability
    1-(1-s^r)^bands. Candidates are verified with the *signature*
    estimate (fraction of agreeing minhashes) — cheap and already
    colocated; swap in exact ngram_jaccard_pairs for audit-grade
    verification.

    Scale shape: signatures (n × k×8B) → explode to n×bands tiny rows →
    shuffle on (band, band_hash) → within-bucket self-pairs. AQE's
    skew-join split rebalances moderately skewed buckets, but a single
    pathological bucket (m near-identical boilerplate docs) still costs
    O(m²) candidate pairs no matter how it's split — at 100 TB, one
    million-doc license-header cluster is a job-killer. Set
    ``max_bucket_size`` to drop (band, bucket) groups larger than the
    cap before pairing. Recall impact: only pairs whose EVERY matching
    band lands in an over-cap bucket are lost — i.e. members of
    mega-clusters, which exact dedup already collapses upstream and
    which rarely need pairwise enumeration (dedup wants one keeper per
    cluster, not m² edges).

    The signature cache persisted internally stays in the block manager
    until the query runner calls ``util.release_all`` after
    materializing the result.
    """
    r = k // bands
    # signatures feed banding AND both sides of the verification join —
    # persist so the text is read and hashed exactly once (the standard
    # LSH layout: n × k×8B ≈ 0.5 KB/doc, disk-spillable)
    from pyspark.storagelevel import StorageLevel

    sigs = minhash_signatures(df, text_col, id_col, k, shingle_n, portable).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # materialize eagerly: the banding stage and both verification-join
    # sides consume `sigs`; without a barrier they race the cold cache
    # and each recomputes the signatures
    sigs.count()
    # banding feeds the bucket-size count AND both self-join sides —
    # persist the (band, bucket, id) rows (24 B each) so the explode +
    # band-hash transform runs once, not three times (measured ~1s per
    # recompute at sf1)
    banded = _band_buckets(sigs, id_col, k, bands, portable).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded.count()

    if max_bucket_size is not None:
        # one extra (band,bucket) count agg (map-side partial, 24B rows)
        # buys an O(m²) -> 0 cut on every over-cap bucket
        ok_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
        banded = banded.join(ok_buckets, on=["band", "bucket"])

    # candidate generation shuffles (band, bucket, id) — 24 bytes/row;
    # signatures rejoin AFTER pair dedup so the k×8B arrays never ride
    # the band shuffle or the distinct
    a = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    b = banded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = _sig_agreement(F.col("sig_a"), F.col("sig_b"), k)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash(text: Column, bits: int = 64, portable: bool = False) -> Column:
    """Charikar SimHash over tokens: per-bit signed vote of token
    hashes, packed into one BIGINT.

    Single pass over the token hashes: one F.aggregate carries a
     63-element vote-counter array (zip_with add of the per-hash ±1 bit
    votes), then one fold packs signs into the long. The naive form (one
    aggregate per bit) re-traverses the hash array 63× and its 63-way
    expression tree takes seconds of codegen — this shape is ~60× less
    expression volume and identical output bit-for-bit.

    ``portable=True`` swaps the base hash xxhash64 → md5_long (60
    usable bits, so the signature narrows to 60 votes) so a DuckDB
    oracle reproduces every signature bit-for-bit; vote fold and
    sign-packing are the shared code path either way.
    """
    nb = PORTABLE_SIMHASH_BITS if portable else bits - 1  # skip sign bit
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(nb)])
    toks = F.array_distinct(tokens(text))
    base = md5_long if portable else F.xxhash64
    hashes = F.transform(toks, lambda t: base(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), nb),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


PORTABLE_SIMHASH_BITS = 60  # md5_long yields 60 usable bits


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    block_bits: int = 16,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Scale path: block on `block_bits`-bit blocks (two docs within
    Hamming d of each other agree on at least one of the nbits/block_bits
    blocks when d < nbits/block_bits — generalized pigeonhole). Blocking
    turns the quadratic self-join into bucket-local joins, same shape
    as LSH.

    ``portable=True``: md5_long base hash, 60-bit signatures, 15-bit
    blocks (4 blocks either way) — DuckDB reproduces signatures, block
    keys, candidates and Hamming distances bit-for-bit (see
    dedup_simhash_checked); the banding/verify expressions are shared
    with the production xxhash64 path.
    """
    if portable:
        nbits, block_bits = PORTABLE_SIMHASH_BITS, 15
    else:
        nbits = 64
    sh = fan_out(df).select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col), portable=portable).alias("sh"),
    )
    blocks = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("sh"), i * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("key"),
                    )
                    for i in range(nbits // block_bits)
                ]
            )
        ).alias("bk"),
    ).select("id", "sh", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    a = blocks.select("blk", "key", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = blocks.select("blk", "key", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, on=["blk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    The exact verifier: explode shingles, self-join on shingle (so only
    docs sharing content ever pair — never a true cross join), count
    intersections, |A∪B| = |A|+|B|−|A∩B|. Deterministic double from
    integer ratio. Quadratic in bucket size — bound the input (e.g. to
    LSH candidates or an id range) at scale.
    """
    # NOT persisted, unlike the minhash/winnow caches: after the
    # explode_outer fix the shingle recompute is one cheap codegen'd
    # pass, and an A/B at sf0.1 showed the persist barrier +
    # deserialization costs MORE than the 3x recompute it saves
    # (2.1s vs 1.7s warm) — pipelining wins when the expression is cheap
    sh = (
        fan_out(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks"))
        .select("id", F.explode_outer(shingles(F.col("__toks"), n)).alias("g"))
        .filter(F.col("g").isNotNull())
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "g")
    b = sh.select(F.col("id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- winnowing (MOSS) fingerprints ----------------------------------------

# Rabin-Karp polynomial rolling-hash parameters, shared with the DuckDB
# oracle: base/mod small enough that every intermediate term fits a
# 64-bit signed integer ((127 * mod) << 2^63), so both engines compute
# identical exact integer arithmetic.
WINNOW_BASE = 31
WINNOW_MOD = (1 << 31) - 1


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    w: int = 4,
    _chunk_chars: int = 1 << 18,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-gram with a
    polynomial rolling hash, slide a ``w``-wide window over the hash
    sequence, keep each window's minimum. Guarantees any shared
    substring of length ≥ k+w-1 yields a shared fingerprint, so it
    catches partial overlap (plagiarism / quote / crawl-boilerplate
    reuse) that whole-document hashing misses.

    Scale shape: ONE map-side Arrow-batched pass — grams, window
    minima, and per-doc distinct fingerprints are vectorized numpy over
    each batch, so there is NO shuffle and the only rows leaving the
    pass are the (few) distinct minima per doc. Returns (id, fp) rows.

    Docs shorter than k+w-1 produce no full window and are dropped —
    same rule as the oracle.
    """
    # The rolling hash is EXACT integer arithmetic (codes·31^j mod
    # 2³¹−1), so the engine may compute it any way that produces the
    # same integers. The expression form (kept below as
    # _winnow_fingerprints_expr) evaluates ~|text|·k interpreted
    # higher-order lambdas per doc — Catalyst does not codegen
    # ArrayAggregate/ArrayTransform — and dominated the winnow family's
    # wall-clock (99% of dedup_winnow at sf0.1). This Arrow-batched
    # numpy form computes the identical integers with three vectorized
    # ops per doc (code-point decode, sliding-window int64 matvec
    # against the 31-powers, sliding min) — proven ≡ the expression
    # form by test AND by the unchanged DuckDB value oracle. Still one
    # map-side pass: no shuffle, corpus streams partition-parallel.
    idt = {f.name: f.dataType.simpleString() for f in df.schema.fields}[id_col]
    pows = [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)]
    min_len = k + w - 1

    def process(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        pv = np.array(pows, dtype=np.int64)
        empty = pd.DataFrame({"id": pd.Series([], dtype="int64"),
                              "fp": pd.Series([], dtype="int64")})
        # The k-gram matvec goes through BLAS, which copies its strided
        # sliding_window_view input to a contiguous temporary — ~8·k
        # bytes per character (~96B/char at k=12). Concatenating an
        # UNBOUNDED Arrow batch would make that temporary proportional
        # to the whole batch's text (10k docs x 10KB → ~10GB/task), so
        # chunks are capped at CHUNK_CHARS: big enough to amortize the
        # per-call numpy overhead over hundreds of average docs, small
        # enough that the temporary stays ~25MB — which also kills the
        # multi-second allocation-stall spikes the unbounded form
        # showed (interleaved CPU-time A/B, 12 rounds: per-doc 0.411s
        # median, unbounded 0.147s median with 1.5-3.5s spikes, 256K
        # chunks 0.122s median, no spikes). A single doc longer than
        # the cap forms its own chunk — identical peak memory to the
        # old per-doc form.
        CHUNK_CHARS = _chunk_chars

        def run(texts, ids_np, lens):
            # One vectorized pass over the chunk (not per doc):
            # concatenate the texts, run the rolling hash and window
            # minima over the concatenation, and mask away positions
            # whose k+w-1-char span crosses a doc boundary. Same exact
            # integers as the per-doc form (the hash of a
            # boundary-crossing window is computed but never selected);
            # 2.9x median kernel-CPU on the sf0.1 corpus — the per-doc
            # numpy-call overhead (encode/frombuffer/matvec/unique per
            # doc) was most of the pass once docs are a few hundred
            # chars.
            # utf-32-le == one uint32 code point per character — the
            # vectorized twin of ascii(substring(text, i, 1))
            codes = np.frombuffer(
                "".join(texts).encode("utf-32-le"), dtype="<u4"
            ).astype(np.int64)
            # code < 2^21, power < 2^31, k terms → sums < 2^56: exact
            # in int64, mod once ≡ Horner-mod-every-step
            grams_all = (sliding_window_view(codes, k) @ pv) % WINNOW_MOD
            win_all = sliding_window_view(grams_all, w).min(axis=1)
            # valid window-min positions for doc d (start s, length L):
            # s .. s+L-(k+w-1) — m_d = L-min_len+1 of them (>= 1)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            m = lens - min_len + 1
            doc_idx = np.repeat(np.arange(len(texts)), m)
            pos = (
                np.arange(m.sum())
                - np.repeat(np.cumsum(m) - m, m)
                + np.repeat(starts, m)
            )
            # per-doc distinct via ONE int64 sort: fp < 2^31 (the mod)
            # and doc_idx < chunk size, so doc_idx<<31 | fp is exact.
            # The unpack below masks with an explicit all-ones 31-bit
            # constant; that only extracts fp exactly while fp < 2^31,
            # i.e. while WINNOW_MOD <= 2^31 — decoupled from the mod
            # VALUE but pinned to its RANGE (ADVICE r11)
            assert WINNOW_MOD <= (1 << 31), "packing assumes fp < 2^31"
            comb = doc_idx << np.int64(31) | win_all[pos]
            comb = np.sort(comb)
            keep = np.empty(len(comb), dtype=bool)
            keep[0] = True
            keep[1:] = comb[1:] != comb[:-1]
            comb = comb[keep]
            return pd.DataFrame(
                {
                    "id": ids_np[comb >> np.int64(31)],
                    "fp": comb & np.int64((1 << 31) - 1),
                }
            )

        for pdf in batches:
            texts: list = []
            ids: list = []
            out: list = []
            chars = 0
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None or len(txt) < min_len:
                    continue
                if texts and chars + len(txt) > CHUNK_CHARS:
                    out.append(run(
                        texts,
                        np.asarray(ids, dtype=np.int64),
                        np.fromiter(map(len, texts), count=len(texts),
                                    dtype=np.int64),
                    ))
                    texts, ids, chars = [], [], 0
                texts.append(txt)
                ids.append(did)
                chars += len(txt)
            if texts:
                out.append(run(
                    texts,
                    np.asarray(ids, dtype=np.int64),
                    np.fromiter(map(len, texts), count=len(texts),
                                dtype=np.int64),
                ))
            yield pd.concat(out, ignore_index=True) if out else empty

    return (
        fan_out(df)
        .select(F.col(id_col), F.col(text_col))
        .mapInPandas(process, f"id {idt}, fp bigint")
    )


def _winnow_fingerprints_expr(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    w: int = 4,
) -> DataFrame:
    """Pure-expression winnowing (the pre-numpy form) — kept as the
    all-JVM reference implementation; the equivalence test pins
    numpy ≡ expression on real documents."""
    # char codes extracted ONCE per row; each gram is then a Horner
    # fold over a k-slice — ((c0·B + c1)·B + …) mod M equals the
    # power-weighted sum mod M, so the oracle's explicit-powers
    # formulation produces identical integers while the Spark side does
    # k multiplies per position instead of k substring+ascii calls
    codes = (
        f"transform(sequence(1, length({text_col})), i -> "
        f"CAST(ascii(substring({text_col}, i, 1)) AS BIGINT))"
    )
    grams = (
        f"transform(sequence(1, size(__c) - {k} + 1), i -> "
        f"aggregate(slice(__c, i, {k}), 0L, "
        f"(a, x) -> (a * {WINNOW_BASE} + x) % {WINNOW_MOD}))"
    )
    fps = (
        f"array_distinct(transform(sequence(1, size(__grams) - {w} + 1), "
        f"i -> array_min(slice(__grams, i, {w}))))"
    )
    return (
        fan_out(df)
        .filter(F.length(text_col) >= k + w - 1)
        .withColumn("__c", F.expr(codes))
        .withColumn("__grams", F.expr(grams))
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(F.expr(fps)).alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    w: int = 4,
    max_fp_docs: int = 16,
    min_shared: int = 5,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    (doc_a, doc_b, n_shared) for pairs sharing ≥ ``min_shared``
    fingerprints.

    Fingerprints carried by more than ``max_fp_docs`` documents are
    dropped before the self-join — they are boilerplate (non-
    discriminative) AND they are exactly the skewed keys that would
    blow the join up quadratically; the cap bounds every fp bucket so
    candidate work is ≤ cap²/2 pairs per fingerprint, the same
    discipline as minhash_lsh_pairs' max_bucket_size.

    NO SILENT RECALL COLLAPSE: on a corpus whose duplication density
    scales with its size (e.g. every document carried in c near-copies,
    the sf10 self-union shape), EVERY fingerprint's document frequency
    eventually exceeds an absolute cap and the candidate set silently
    empties — measured at sf10: 0 of 77k fingerprints under the default
    cap, winnow recall zero while sf1 found 53k pairs. The surviving
    fingerprint set is therefore persisted (the self-join read it TWICE
    before, so the materialization is free-to-negative) and checked for
    emptiness — a loud warning names the knob on total collapse.
    Raising would be wrong (tiny corpora of near-identical docs
    legitimately cap out — exact dedup owns those), but zero candidates
    must never look like "no duplicates".
    """
    # the char-level rolling-hash projection feeds the cap count AND
    # both self-join sides — persist so the text is hashed exactly once
    # (n × ~30 fp × 16B, disk-spillable; released by util.release_all)
    from pyspark.storagelevel import StorageLevel

    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_fp_docs)
        .select("fp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if keep.isEmpty():
        import warnings

        warnings.warn(
            f"winnow_candidate_pairs: max_fp_docs={max_fp_docs} dropped "
            "EVERY fingerprint — candidate recall is zero, not 'no "
            "duplicates found'. The corpus's duplication density exceeds "
            "the absolute boilerplate cap; raise max_fp_docs (cost grows "
            "as cap²/2 pairs per fingerprint) or pre-collapse exact/near "
            "copies before the winnow pass.",
            stacklevel=2,
        )
    kept = fps.join(keep, "fp")
    a = kept.select(F.col("id").alias("doc_a"), "fp")
    b = kept.select(F.col("id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def passage_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Per-document duplicated-passage statistics: for each doc, the
    count and fraction of its sliding w-token windows whose exact
    content also occurs in at least one OTHER document (the doc-level
    boilerplate signal of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better" — a FILTER input, complementing the
    pairwise dedup families above which emit edges).

    Scale shape — ONE pass over the text, no join: a map-side pass
    tokenizes and emits ~n_tokens window keys per doc (md5 of the
    window text — 16-byte shuffle currency, never the window text
    itself); one groupBy (wkey, doc) collapses within-doc repeats; a
    window count over wkey yields the per-key distinct-doc count
    without a self-join (the naive join shape re-runs the whole
    tokenize+md5 explode on its second input — at 100 TB that's a
    second full pass over the corpus for nothing); one final groupBy
    re-aggregates per doc. Three narrow shuffles, linear in corpus
    size — affordable on the full 100 TB, unlike the pairwise
    verifiers that need candidate bounding. The md5 key makes the
    whole computation portable to the DuckDB oracle.

    Reference parity: complements doradb's dedup surface (no native
    equivalent); the window/rollup shape mirrors lgc aggregation
    (lgc/op.rs Aggr) applied to generated rows.
    """
    from pyspark.sql import Window

    toksed = fan_out(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    wkeys = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(F.col("__toks")) - (w - 1), F.lit(1))
        ),
        lambda i: F.md5(F.array_join(F.slice(F.col("__toks"), i, w), " ")),
    )
    wins = (
        toksed.select(F.col(id_col), F.explode_outer(wkeys).alias("wkey"))
        .filter(F.col("wkey").isNotNull())
    )
    per_key_doc = wins.groupBy("wkey", id_col).agg(
        F.count(F.lit(1)).alias("__n_occ")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("wkey"))
    dup = F.sum(
        F.when(F.col("__nd") >= 2, F.col("__n_occ")).otherwise(F.lit(0))
    ).cast("long")
    return (
        per_key_doc.withColumn("__nd", nd)
        .groupBy(id_col)
        .agg(
            F.sum("__n_occ").cast("long").alias("n_windows"),
            dup.alias("n_dup_windows"),
        )
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            (
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double")
            ).alias("dup_frac"),
        )
    )


def dup_span_extract(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """Maximal duplicated token SPANS per document: the positions of
    every w-token window whose content also occurs in another document,
    merged (gaps-and-islands) into maximal contiguous spans
    ``[span_start, span_end]`` (1-based token positions, inclusive).

    This is the span-level upgrade of :func:`passage_dup_stats` — that
    operator answers "how much of this doc is duplicated", this one
    answers "WHICH part", which is what a surgical span-removal pass
    (the remove-the-duplicate-not-the-document strategy of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better")
    needs as input.

    Scale shape — same linear envelope as passage_dup_stats: one
    map-side tokenize+md5 pass emits (doc, wpos, 16-byte wkey) rows;
    the per-key distinct-doc count is a window over one (wkey, doc)
    collapse, never a self-join; duplicated positions then merge into
    islands with ONE more per-doc window (``wpos - row_number()`` is
    constant within a contiguous run — the classic gaps-and-islands
    key). Three narrow shuffles, all on md5/id keys, linear in corpus
    size; no window text ever shuffles.

    Reference parity: no native analog (doradb has no text dedup);
    the generated-rows + windowed-aggregation shape mirrors lgc Aggr
    over an exploded projection.
    """
    from pyspark.sql import Window

    toksed = fan_out(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    wkeys = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(F.col("__toks")) - (w - 1), F.lit(1))
        ),
        lambda i: F.md5(F.array_join(F.slice(F.col("__toks"), i, w), " ")),
    )
    wins = (
        toksed.select(
            F.col(id_col), F.posexplode_outer(wkeys).alias("__p0", "wkey")
        )
        .filter(F.col("wkey").isNotNull())
        .select(F.col(id_col), (F.col("__p0") + 1).alias("wpos"), "wkey")
    )
    # per-key distinct-doc count without a self-join (window over the
    # (wkey, doc) collapse), then keep only cross-doc duplicated keys
    per_key_doc = wins.select("wkey", id_col).distinct()
    dup_keys = (
        per_key_doc.withColumn(
            "__nd", F.count(F.lit(1)).over(Window.partitionBy("wkey"))
        )
        .filter(F.col("__nd") >= 2)
        .select("wkey")
        .distinct()
    )
    dup_pos = wins.join(dup_keys, "wkey").select(F.col(id_col), "wpos")
    island = F.col("wpos") - F.row_number().over(
        Window.partitionBy(id_col).orderBy("wpos")
    )
    return (
        dup_pos.withColumn("__island", island)
        .groupBy(id_col, "__island")
        .agg(
            F.min("wpos").cast("long").alias("span_start"),
            (F.max("wpos") + (w - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_dup_windows"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_dup_windows",
        )
    )


def dup_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
) -> DataFrame:
    """APPLY the spans :func:`dup_span_extract` finds: rebuild each
    document with every cross-doc duplicated span deleted, emitting the
    cleaned-text fingerprint and removal counts — the execution half of
    surgical span removal (detect → remove), under the conservative
    remove-EVERY-occurrence policy (boilerplate strip; keeping one
    canonical occurrence per span is a policy variant that needs a
    global keeper choice, exactly what dedup_best_keeper does at
    document granularity).

    Scale shape: the span table is tiny (one row per maximal span);
    collect_list packs a doc's few spans into one array column, and the
    rebuild is ONE projection — token positions filtered by an
    any-span-covers predicate (order-independent, so collect_list's
    nondeterministic order is harmless), then re-joined. Linear, no
    self-join, one narrow groupBy on doc_id beyond span extraction.
    """
    spans = dup_span_extract(df, text_col, id_col, w)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans")
    )
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    toks = tokens(F.col(text_col))
    joined = df.select(F.col(id_col), toks.alias("__toks")).join(
        sp, id_col, "left"
    )
    spans_c = F.coalesce(F.col("__spans"), empty)
    kept = F.filter(
        F.sequence(F.lit(1), F.size("__toks")),
        lambda i: F.size(
            F.filter(spans_c, lambda x: (i >= x.s) & (i <= x.e))
        )
        == 0,
    )
    clean = F.array_join(
        F.transform(kept, lambda i: F.element_at(F.col("__toks"), i)), " "
    )
    return joined.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(clean).alias("clean_fp"),
    )


def minhash_index_persist(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Write a persistent MinHash-LSH index: ``sigs/`` (id, sig) and
    ``bands/`` (band, bucket, id) parquet tables.

    The production ingest-dedup layout (the dedup twin of
    clustering.ivf_persist): signatures and band buckets are paid ONCE
    when the corpus lands; every later batch is screened against the
    stored buckets without touching corpus text again. At 100 TB the
    index is ~n x (k*8B + bands*24B) — three orders of magnitude
    smaller than the text it stands for. The index parameters (and the
    persist-time column names) are written to ``_meta/`` as a one-row
    JSON dataset THROUGH Spark's writers — not a local ``open()`` — so
    the index round-trips on any Hadoop-supported filesystem (s3://,
    hdfs://, ...), which is the stated production ingest scenario;
    ``minhash_screen`` reads them back, so a screen can never silently
    run with mismatched banding or column names.
    """
    from pyspark.storagelevel import StorageLevel

    sigs = minhash_signatures(df, text_col, id_col, k, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs.write.mode(mode).parquet(f"{path}/sigs")
    _band_buckets(sigs, id_col, k, bands).write.mode(mode).parquet(
        f"{path}/bands"
    )
    sigs.unpersist()
    # values_df, not createDataFrame: one-row local relations cost a
    # ~4s python->JVM stage per job (operators/util.values_df)
    meta = values_df(
        df.sparkSession,
        "k long, bands long, shingle_n long, id_col string, text_col string",
        [(int(k), int(bands), int(shingle_n), id_col, text_col)],
    )
    meta.coalesce(1).write.mode(mode).json(f"{path}/_meta")


def minhash_index_update(
    new_snapshot: DataFrame,
    diff: DataFrame,
    index_path: str,
    op_col: str = "op",
) -> None:
    """Apply a ``table_diff`` delta to a persisted MinHash index
    IN PLACE — the incremental-maintenance half of the ingest story:
    when a 100 TB corpus takes a CDC batch (sources/dml.table_diff
    rows: key + op ∈ insert/update/delete), the index follows the
    delta instead of being rebuilt from corpus text.

    Cost shape: only delta-sized work plus a surgical copy-on-write.
    Inserted/updated documents are signed map-side from
    ``new_snapshot`` (a delta-sized semi-join — corpus text beyond the
    delta is never read); deleted/updated ids are scrubbed by
    rewriting ONLY the index files that contain them (the
    ``_metadata.file_path`` semi-join + swap used by the DML layer —
    file names to the driver, never rows), and fresh signature/band
    rows land as appended files. A pure-insert batch therefore touches
    zero existing bytes. The contract — update(index(v1), diff(v1,v2))
    ≡ rebuild(index(v2)) row-for-row — is equivalence-tested in
    tests/test_round7_ops.py.

    Banding constants and column names come from the index's _meta
    (same rule as minhash_screen: guessing them silently corrupts the
    index; a missing meta raises).
    """
    from pyspark.errors import AnalysisException

    spark = new_snapshot.sparkSession
    try:
        meta = spark.read.json(f"{index_path}/_meta").head()
    except AnalysisException as exc:
        raise ValueError(
            f"no _meta under {index_path} — not a minhash_index_persist "
            "index (updating with guessed k/bands would corrupt it)"
        ) from exc
    k, bands, shingle_n = int(meta["k"]), int(meta["bands"]), int(meta["shingle_n"])
    id_col, text_col = meta["id_col"], meta["text_col"]

    gone = (
        diff.filter(F.col(op_col).isin("delete", "update"))
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    fresh_ids = diff.filter(F.col(op_col).isin("insert", "update")).select(
        id_col
    )
    changed = new_snapshot.join(F.broadcast(fresh_ids), id_col)
    new_sigs = minhash_signatures(
        changed, text_col, id_col, k, shingle_n
    ).localCheckpoint(eager=True)
    new_bands = _band_buckets(new_sigs, id_col, k, bands)

    from xngin_spark.sources.dml import scrub_rows

    def scrub_then_append(sub: str, additions: DataFrame) -> None:
        path = f"{index_path}/{sub}"
        cols = spark.read.parquet(path).columns
        scrub_rows(spark, path, gone, id_col)
        additions.select(*cols).write.mode("append").parquet(path)
        spark.catalog.refreshByPath(path)

    scrub_then_append("sigs", new_sigs)
    scrub_then_append("bands", new_bands)

    # bound the small-file debt the update cycle accretes
    from xngin_spark.sources.layout import auto_compact

    for sub in ("sigs", "bands"):
        auto_compact(spark, f"{index_path}/{sub}")


def minhash_screen(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Screen a NEW batch against a persisted MinHash index: returns
    (new_id, corpus_id, est_jaccard) for near-duplicates of already-
    ingested documents — the screen every ingest pipeline runs before
    admitting a batch.

    k/bands/shingle_n are NOT parameters: they are read from the
    index's ``_meta/`` dataset, because banding with different
    constants than the stored buckets silently returns an empty screen
    ("no duplicates — admit the batch") instead of an error. The stored
    tables are likewise read with the PERSIST-time id column name from
    the meta (an index persisted with ``id_col='uid'`` screens
    correctly from a caller using the default). A missing meta raises.

    Cost shape: the new batch is signed map-side; its tiny band rows
    join the stored ``bands/`` table on (band, bucket) — with a fresh
    batch that's a broadcast of the batch side against the big stored
    table; then only candidate ids fetch signatures from ``sigs/`` for
    verification. Corpus text is never read.
    """
    from pyspark.errors import AnalysisException
    from pyspark.storagelevel import StorageLevel

    spark = new_df.sparkSession
    try:
        meta = spark.read.json(f"{index_path}/_meta").head()
    except AnalysisException as exc:
        raise ValueError(
            f"no _meta under {index_path} — not a minhash_index_persist "
            "index (screening with guessed k/bands would silently match nothing)"
        ) from exc
    k, bands, shingle_n = int(meta["k"]), int(meta["bands"]), int(meta["shingle_n"])
    stored_id = meta["id_col"]
    nsig = minhash_signatures(new_df, text_col, id_col, k, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nsig.count()
    nband = _band_buckets(nsig, id_col, k, bands).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    stored = spark.read.parquet(f"{index_path}/bands").select(
        F.col(stored_id).alias("corpus_id"), "band", "bucket"
    )
    cand = (
        F.broadcast(nband)
        .join(stored, on=["band", "bucket"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    ssig = spark.read.parquet(f"{index_path}/sigs").select(
        F.col(stored_id).alias("corpus_id"), F.col("sig").alias("sig_c")
    )
    est = _sig_agreement(F.col("sig"), F.col("sig_c"), k)
    return (
        cand.join(nsig.select(F.col(id_col).alias("new_id"), "sig"), "new_id")
        .join(ssig, "corpus_id")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
    )


def minhash_screen_with(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.7,
    portable: bool = False,
) -> DataFrame:
    """In-session ingest screen: near-duplicates of ``new_df`` against
    ``corpus_df`` as (new_id, corpus_id, est_jaccard) — the same
    band-probe + signature-verify shape as :func:`minhash_screen`, with
    both sides computed in-session instead of read from a persisted
    index (use this before the first index lands, or with
    ``portable=True`` for the engine-portable checked variant the
    DuckDB oracle reproduces bit-for-bit).

    Cost shape matches the persisted screen: signatures are map-side
    for both sides, the (small) new batch's band rows broadcast against
    the corpus bands, and only candidate pairs ship signatures."""
    nsig = minhash_signatures(new_df, text_col, id_col, k, shingle_n, portable)
    csig = minhash_signatures(corpus_df, text_col, id_col, k, shingle_n, portable)
    nband = _band_buckets(nsig, id_col, k, bands).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    cband = _band_buckets(csig, id_col, k, bands).select(
        F.col(id_col).alias("corpus_id"), "band", "bucket"
    )
    cand = (
        F.broadcast(nband)
        .join(cband, on=["band", "bucket"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    est = _sig_agreement(F.col("sig"), F.col("sig_c"), k)
    return (
        cand.join(nsig.select(F.col(id_col).alias("new_id"), "sig"), "new_id")
        .join(
            csig.select(F.col(id_col).alias("corpus_id"), F.col("sig").alias("sig_c")),
            "corpus_id",
        )
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "corpus_id", "est_jaccard")
    )


def setsim_prefix_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    candidates_only: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard join (sim >= threshold) via PREFIX
    FILTERING — the lossless candidate-reduction scheme of the
    AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al.
    WWW'08): order every document's distinct tokens by ascending
    global document frequency (rarest first); any two sets with
    Jaccard >= t MUST share a token within each one's first
    |X| - floor(t*|X|) + 1 tokens, so joining only the prefixes
    generates a candidate superset and the exact verification never
    misses a pair. Unlike minhash_lsh (probabilistic recall) this is
    EXACT — same results as the brute-force all-pairs join, which is
    precisely what the oracle computes.

    Scale shape: the candidate join explodes only PREFIX tokens
    (~(1-t)·|X| per doc, and the global-rarest-first order makes the
    per-token bucket sizes the SMALLEST possible — frequent tokens
    land outside prefixes), versus the full-token explode of the
    brute-force verifier. Verification is array_intersect on the two
    cached distinct-token arrays — codegen'd JVM, no shuffle beyond
    the candidate join itself. A planted-pair test asserts the
    candidate count stays strictly below the brute-force pair count.
    """
    toks = (
        fan_out(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(tokens(F.col(text_col))).alias("ta"),
        )
        .filter(F.size("ta") > 0)
    )
    ex = toks.select("id", F.explode("ta").alias("tok"))
    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # rarest-first total order (df, tok); prefix keeps the first
    # sz - floor(t*sz) + 1 tokens (floor, not ceil: one token longer
    # than the tight bound, safe under any float rounding of t*sz)
    per_doc = (
        ex.join(dfreq, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("ord"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
        .select(
            "id",
            "sz",
            F.slice(
                F.col("ord"),
                1,
                (
                    F.col("sz")
                    - F.floor(F.lit(threshold) * F.col("sz"))
                    + F.lit(1)
                ).cast("int"),
            ).alias("prefix"),
        )
    )
    pa = per_doc.select(
        F.col("id").alias("id_a"),
        F.col("sz").alias("la"),
        F.explode("prefix").alias("p"),
    ).select("id_a", "la", F.col("p.tok").alias("tok"))
    pb = per_doc.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("lb"),
        F.explode("prefix").alias("p"),
    ).select("id_b", "lb", F.col("p.tok").alias("tok"))
    # AllPairs LENGTH filter, applied inside the candidate join: J >= t
    # forces t·|A| <= |B| <= |A|/t (J <= min/max of the two sizes), so
    # size-mismatched bucket pairs drop before the distinct and before
    # any token array is shuffled. Lossless like the prefix bound.
    cands = (
        pa.join(pb, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("lb").cast("double") >= F.lit(threshold) * F.col("la"))
            & (F.col("lb") * F.lit(threshold) <= F.col("la").cast("double"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    if candidates_only:
        # debug/analysis surface: the candidate superset the prefix
        # filter admits — the pruning-power test asserts its count
        # stays strictly below the share-any-token brute-force pairs
        return cands
    t_a = toks.select(F.col("id").alias("id_a"), F.col("ta").alias("set_a"))
    t_b = toks.select(F.col("id").alias("id_b"), F.col("ta").alias("set_b"))
    return (
        cands.join(t_a, "id_a")
        .join(t_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("long")
            .alias("inter"),
            F.size("set_a").cast("long").alias("sz_a"),
            F.size("set_b").cast("long").alias("sz_b"),
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
