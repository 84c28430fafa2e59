"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed
approximate variant.

Scale design:
- Brute force is the baseline and the verifier: queries broadcast
  (queries are small), corpus streams — one pass, no corpus shuffle,
  top-k per query via window rank on (query partition). At 100 TB the
  corpus side stays partition-parallel; cost is O(|corpus|·|queries|·d)
  multiply-adds in codegen'd expressions.
- LSH (random hyperplane signs, Charikar 2002) buckets corpus and
  queries by signature; only same-bucket (plus multi-probe neighbor
  bucket) pairs are scored. Turns the scan into a bucket-local join —
  the IVF-style scale path.

One cosine recipe: every cosine score in the package is built from
``vec_norm`` and ``vec_dot`` (``cosine`` when neither norm is hoisted),
and every per-query top-k from ``_top_k``. Dot products and norms
accumulate through DECIMAL(25,9) (exact, order-independent) and finish
in IEEE doubles, so results are bit-identical to the DuckDB oracle.
Precondition: the two vectors of a pair have equal dimension. A pair
of unequal dimension raises; a NULL vector scores NULL.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xngin_spark.operators.util import fan_out

DEC9 = "decimal(25,9)"


def _same_dims(size_a, size_b, value) -> "F.Column":
    """``value``, or a runtime error when the two sizes differ. NULL
    sizes (NULL vectors) fall through to ``value``."""
    return F.when(
        size_a != size_b,
        F.raise_error(
            F.format_string("cosine: vector dimensions differ (%d vs %d)", size_a, size_b)
        ),
    ).otherwise(value)


def vec_norm(vec_col) -> "F.Column":
    """Deterministic L2 norm of an array<float> column: squares
    accumulate through DECIMAL(25,9) (exact, order-independent), final
    sqrt in double — same recipe as the DuckDB oracles."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda a: (a.cast("double") * a.cast("double")).cast(DEC9)),
            F.lit(0).cast(DEC9),
            lambda acc, x: (acc + x).cast(DEC9),
        ).cast("double")
    )


def vec_dot(a, b) -> "F.Column":
    """Deterministic dot product of two array columns (decimal
    accumulation, double result). Raises on unequal dimensions."""
    return _same_dims(
        F.array_size(a),
        F.array_size(b),
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(DEC9)),
            F.lit(0).cast(DEC9),
            lambda acc, x: (acc + x).cast(DEC9),
        ).cast("double"),
    )


def cosine(a, b) -> "F.Column":
    """Deterministic cosine of two array columns."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


def _top_k(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Per-query top-k of (qid, id, cosine): rank by cosine descending,
    ties toward the smaller id → (qid, id, cosine, rank)."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.select("qid", id_col, "cosine")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """Exact cosine top-k: (qid, vec_id, cosine, rank).

    Plan shape: ONE corpus posexplode (map-side) ⋈ broadcast exploded
    queries on position → decimal-sum per (qid, id) → window top-k
    partitioned by qid. The only shuffle is on (qid, id) partial dot
    products; corpus text/embeddings never re-shuffle. Each side's norm
    and dimension are computed map-side with ``vec_norm`` over the
    whole vector before the explode; the corpus pair rides the
    (qid, id) group key and the query pair a broadcast select, so no
    norm needs its own aggregation. Vectors of unequal dimension raise.
    """
    # norm and size in their own select: next to the generator they
    # would be evaluated once per exploded element instead of per vector
    c = fan_out(corpus).select(
        id_col,
        vec_col,
        vec_norm(vec_col).alias("cnorm"),
        F.array_size(vec_col).alias("csize"),
    ).select(id_col, "cnorm", "csize", F.posexplode(vec_col).alias("pos", "cx"))
    q = queries.select(
        F.col(query_id_col).alias("qid"), F.posexplode(vec_col).alias("pos", "qx")
    )
    qn = queries.select(
        F.col(query_id_col).alias("qid"),
        vec_norm(vec_col).alias("qnorm"),
        F.array_size(vec_col).alias("qsize"),
    )
    dots = (
        c.join(F.broadcast(q), "pos")
        .groupBy("qid", id_col, "cnorm", "csize")
        .agg(
            F.sum((F.col("qx").cast("double") * F.col("cx").cast("double")).cast(DEC9))
            .cast("double")
            .alias("dot"),
        )
    )
    scored = dots.join(F.broadcast(qn), "qid").withColumn(
        "cosine",
        _same_dims(
            F.col("csize"),
            F.col("qsize"),
            F.col("dot") / (F.col("qnorm") * F.col("cnorm")),
        ),
    )
    return _top_k(scored, k, id_col)


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cosine ≥
    threshold) — the embedding member of the dedup family.

    ``block_col`` bounds the quadratic: only pairs sharing the block key
    are compared (at scale, block on an LSH bucket — ``lsh_signature`` —
    or a cluster id from ``operators.clustering``; here any column).
    Without it this is the n² verifier, for small n or audits only.

    Both sides of the self-join carry (id, norm, vec); the join shuffles
    on the block key, so cost follows block occupancy, not n².
    """
    base = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
        vec_norm(F.col(vec_col)).alias("nrm"),
    )
    on = ["blk"] if block_col else []
    a = base.select(
        *(["blk"] if block_col else []),
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = base.select(
        *(["blk"] if block_col else []),
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, on=on) if on else a.crossJoin(b)
    return (
        pairs.filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", vec_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _blocked_pairs(df, threshold, id_col, vec_col, block_col, row_chunk, slabs):
    """The per-block pair screen shared by the BLAS and grid variants:
    one shuffle onto ``block_col``, then per block the rows sorted by
    id, ``slabs(X)`` built once over the block's (n, d) double matrix,
    and each ``row_chunk``-row slab's (chunk, n) score matrix
    ``slabs(X)(s, e)`` screened at ``threshold`` on its strict upper
    triangle → (id_a < id_b, cosine)."""
    idt = {f.name: f.dataType.simpleString() for f in df.schema.fields}[id_col]
    out_schema = f"id_a {idt}, id_b {idt}, cosine double"

    def score(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        # deterministic intra-block order so pair emission is stable
        pdf = pdf.sort_values(id_col, kind="mergesort")
        X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        slab = slabs(X)
        ids = pdf[id_col].to_numpy()
        out_a, out_b, out_c = [], [], []
        for s in range(0, n, row_chunk):
            G = slab(s, min(s + row_chunk, n))
            # strict upper triangle in GLOBAL index space: j > i
            ri, cj = np.nonzero(G >= threshold)
            keep = cj > (ri + s)
            ri, cj = ri[keep], cj[keep]
            out_a.append(ids[ri + s])
            out_b.append(ids[cj])
            out_c.append(G[ri, cj])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return df.groupBy(block_col).applyInPandas(score, out_schema)


def cosine_dup_pairs_blas(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "cluster",
    row_chunk: int = 2048,
) -> DataFrame:
    """Within-block near-duplicate pairs via a per-block Gram matrix:
    one ``Xn @ Xn.T`` BLAS call per block replaces occupancy²·d
    interpreted decimal folds. Plain IEEE doubles — the fast path for
    rows-only screens (SemDeDup and friends); ``cosine_dup_pairs``
    stays the decimal-deterministic oracle-parity verifier.

    Scale shape: ONE shuffle (groupBy block key into applyInPandas),
    then each block is dense-matrix local work — exactly how SemDeDup
    runs at paper scale (within-cluster pairwise on an accelerator).
    Cost follows block occupancy, never n². The Gram matrix is computed
    in ``row_chunk``-row slabs so a skewed block bounds memory at
    chunk×occupancy doubles instead of occupancy².
    """

    def gram(X):
        import numpy as np

        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        return lambda s, e: Xn[s:e] @ Xn.T  # (chunk, n)

    return _blocked_pairs(df, threshold, id_col, vec_col, block_col, row_chunk, gram)


#: Default quantization grid for the integer-exact cosine screen:
#: floor(x · 2²⁴). For |x| < 8 and d ≤ 512 every square/dot sum stays
#: far inside int64; relative quantization error ~2⁻²⁴ ≈ 6e-8 — noise
#: for a near-dup screen.
GRID_BITS = 24


def cosine_dup_pairs_grid(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "cluster",
    grid_bits: int = GRID_BITS,
    row_chunk: int = 2048,
) -> DataFrame:
    """Within-block near-duplicate pairs on a FLOOR-GRID integer
    cosine — value-checkable across engines AND BLAS-fast.

    The decimal fold (``cosine_dup_pairs``) pays occupancy²·d
    *interpreted* decimal operations: Catalyst never codegens
    higher-order lambdas, and exact decimal accumulation has no BLAS
    form. The grid variant quantizes each coordinate once —
    q = floor(x·2^bits), EXACT in IEEE doubles because the scale is a
    power of two — and scores pairs with int64 dot products, which are
    order-independent exact integers any engine (numpy, Spark, DuckDB)
    reproduces bit-for-bit. The final
    cosine = double(dot) / sqrt(double(na2)·double(nb2)) is three
    correctly-rounded IEEE ops on identical integers, so the emitted
    doubles are bit-identical too. Same recipe as the JL projection's
    floor-grid accumulation (operators/quantize.py), extended to the
    pairwise screen.

    Scale shape: identical to ``cosine_dup_pairs_blas`` — one shuffle
    onto the block key, then per-block Gram work in ``row_chunk`` slabs
    (int64 matmul), cost follows block occupancy. Result differs from
    the exact-arithmetic screen only by the ~2⁻²⁴ quantization of each
    coordinate. Oracle twin: ``grid_cosine_oracle_cte``.
    """
    scale = float(1 << grid_bits)

    def grid(X):
        import numpy as np

        Q = np.floor(X * scale).astype(np.int64)
        n2 = (Q * Q).sum(axis=1).astype(np.float64)  # int64 sums, exact
        # int64 dots, exact; three correctly-rounded double ops after
        return lambda s, e: (Q[s:e] @ Q.T).astype(np.float64) / np.sqrt(
            n2[s:e, None] * n2[None, :]
        )

    return _blocked_pairs(df, threshold, id_col, vec_col, block_col, row_chunk, grid)


def grid_scale_sql(grid_bits: int = GRID_BITS) -> str:
    """The grid scale as a SQL double literal — oracles quantize with
    ``CAST(floor(CAST(x AS DOUBLE) * <this>) AS BIGINT)``, mirroring
    ``cosine_dup_pairs_grid`` exactly."""
    return repr(float(1 << grid_bits))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(vec_col: str, planes: list[list[float]]):
    """Bit-signature column: sign of <v, p_i> per hyperplane, packed to
    BIGINT. Dot via F.aggregate over zip_with — JVM-side."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    return sig


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    n_planes: int = 12,
    dim: int | None = None,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: score only same-/neighbor-bucket pairs.

    multiprobe=m also probes buckets at Hamming distance ≤ m from the
    query signature (flip one bit per probe), trading compute for
    recall — the standard knob. Bucketing keys are 8-byte longs; the
    join is bucket-local, so cost follows bucket occupancy (≈ n/2^p),
    not n·q. Candidates score with the decimal cosine recipe →
    (qid, vec_id, cosine, rank), like ``cosine_topk``.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    c = fan_out(corpus).withColumn("bucket", lsh_signature(vec_col, planes))
    qsig = queries.withColumn("sig", lsh_signature(vec_col, planes))
    probes = [F.col("sig")] + [
        F.col("sig").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)
    ][: (n_planes if multiprobe else 0)]
    q = qsig.withColumn("bucket", F.explode_outer(F.array(*probes))).filter(
        F.col("bucket").isNotNull()
    )
    # qnorm rides the BROADCAST side, evaluated once per (query, probe)
    # row instead of once per candidate pair (the per-pair form re-ran
    # the 64-element fold for the same query against every candidate).
    # A full decide-narrow/re-attach restructure (guide §8) was measured
    # interleaved and REVERTED: with one signature per corpus vector a
    # (query, candidate) pair matches at most ONE probed bucket, so
    # there are no duplicate matches to dedup away, and the second
    # corpus scan + candidate broadcast cost 5 -> 7 jobs and ~10% wall.
    pairs = c.join(
        F.broadcast(
            q.select(
                F.col(query_id_col).alias("qid"),
                "bucket",
                F.col(vec_col).alias("qvec"),
                vec_norm(vec_col).alias("qnorm"),
            )
        ),
        "bucket",
    )
    scored = pairs.withColumn(
        "cosine",
        vec_dot(F.col(vec_col), F.col("qvec")) / (vec_norm(vec_col) * F.col("qnorm")),
    )
    return _top_k(scored.select("qid", id_col, "cosine").distinct(), k, id_col)


def mmr_select(
    cand: DataFrame,
    pairs: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    query_id_col: str = "qid",
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998)
    over per-query candidate lists: greedily pick the candidate
    maximizing ``lam * relevance - mu * max_sim_to_already_selected``,
    k times, ties broken toward the smaller id.

    Inputs: ``cand`` (query_id, id, rel) — the retriever's top-N per
    query — and ``pairs`` (query_id, a_id, b_id, sim) — pairwise
    candidate similarities (both directions). The greedy loop is
    inherently sequential PER QUERY but embarrassingly parallel ACROSS
    queries, so it runs as a cogrouped ``applyInPandas``: each group is
    one query's N candidates + N·(N-1) pair sims — bounded by the
    retriever's top-N, never by corpus size, which is what makes this
    safe at 100 TB (the corpus was already reduced to top-N upstream).

    ``lam`` and ``mu`` are passed separately (NOT mu = 1 - lam): the
    IEEE double nearest 1 - 0.7 is 0.30000000000000004, so an oracle
    spelling the literal 0.3 would diverge in the last bits. Every
    arithmetic step here is plain C-double ops on already-rounded
    inputs in the same order as the SQL oracle (t1 = lam*rel;
    t2 = mu*maxsim; t1 - t2), so scores are bit-identical cross-engine.
    """
    import pandas as pd

    def greedy(cdf: "pd.DataFrame", pdf: "pd.DataFrame") -> "pd.DataFrame":
        if cdf.empty:
            return pd.DataFrame(
                {"qid": [], "vec_id": [], "mmr_score": [], "mmr_rank": []}
            ).astype({"qid": "int64", "vec_id": "int64",
                      "mmr_score": "float64", "mmr_rank": "int64"})
        qid = int(cdf[query_id_col].iloc[0])
        rel = {int(r): float(v) for r, v in zip(cdf[id_col], cdf["rel"])}
        sim: dict[tuple[int, int], float] = {
            (int(a), int(b)): float(s)
            for a, b, s in zip(pdf["a_id"], pdf["b_id"], pdf["sim"])
        }
        selected: list[int] = []
        out_id, out_score = [], []
        remaining = set(rel)
        for _ in range(min(k, len(rel))):
            best_key = None
            best_id = None
            for cid in remaining:
                ms = 0.0
                if selected:
                    ms = max(sim.get((cid, s), 0.0) for s in selected)
                score = lam * rel[cid] - mu * ms
                key = (score, -cid)
                if best_key is None or key > best_key:
                    best_key, best_id = key, cid
            selected.append(best_id)
            remaining.discard(best_id)
            out_id.append(best_id)
            out_score.append(best_key[0])
        return pd.DataFrame(
            {
                "qid": [qid] * len(out_id),
                "vec_id": out_id,
                "mmr_score": out_score,
                "mmr_rank": list(range(1, len(out_id) + 1)),
            }
        )

    return (
        cand.groupBy(query_id_col)
        .cogroup(pairs.groupBy(query_id_col))
        .applyInPandas(
            greedy, "qid long, vec_id long, mmr_score double, mmr_rank long"
        )
    )
