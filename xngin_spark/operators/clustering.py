"""Distributed k-means + IVF approximate nearest-neighbor search.

Beyond-reference capability (the reference has no vector surface at
all). The IVF (inverted-file) index is the classic ANN scale path:

1. TRAIN: k-means over a sample of the corpus → ``nlist`` centroids.
   Lloyd iterations run as DataFrame jobs: centroids broadcast (tiny),
   assignment is a map-side argmin, the update is one groupBy(cluster)
   shuffle of per-dimension sums. O(iters) jobs, each a single shuffle
   of k×d doubles per partition — scales to any corpus size.
2. INDEX: assign every corpus vector to its nearest centroid (map-side,
   broadcast centroids) → the "inverted list" column.
3. SEARCH: a query probes only the ``nprobe`` nearest lists, scoring
   |corpus|·nprobe/nlist candidates instead of |corpus| — the same
   bucket-local join shape as the LSH variant, with learned buckets.

All JVM expressions (zip_with/aggregate); queries broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xngin_spark.operators.util import fan_out, release_checkpoint


def _lit_vec(vals) -> F.Column:
    """array<double> literal as ONE parsed SQL expression. Building it
    element-wise (F.array(*[F.lit(x) ...])) costs one py4j round-trip
    per element — a k×d centroid matrix is k·d driver→JVM calls and
    dominated kmeans wall-clock (~1s/iteration at k=8, d=64). repr()
    round-trips doubles exactly and CAST(string AS DOUBLE) parses
    correctly-rounded, so values are bit-identical to F.lit."""
    inner = ",".join(f"CAST('{repr(float(x))}' AS DOUBLE)" for x in vals)
    return F.expr(f"array({inner})")


def _lit_matrix(rows) -> F.Column:
    """array<array<double>> literal as one parsed expression."""
    inner = ",".join(
        "array(" + ",".join(f"CAST('{repr(float(x))}' AS DOUBLE)" for x in row) + ")"
        for row in rows
    )
    return F.expr(f"array({inner})")


def _sq_dist(a, b):
    """Squared L2 distance of two array columns, plain double (k-means
    needs no cross-engine determinism — the tie-break on cluster id
    keeps assignment deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


DEC9 = "decimal(25,9)"


def _nearest(vec_col, centroids: list[list[float]]):
    """(cluster_id, sq_dist) struct of the nearest centroid — map-side
    argmin over a centroid array literal."""
    carr = _lit_matrix(centroids)
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda i: F.struct(
            _sq_dist(vec_col, F.element_at(carr, i + 1)).alias("d"), i.alias("c")
        ),
    )
    return F.array_min(scored)  # struct compare: min d, then min c


#: Below this many centroids the interpreted expression argmin beats
#: the Arrow round-trip: the matmul's advantage scales with k, while
#: shipping each row JVM→Arrow→python→Arrow→JVM is a fixed per-byte
#: cost (measured at sf0.1: k=8 IVF assignment +0.3s via Arrow, k=80
#: SemDeDup assignment 10× faster via BLAS). k is known driver-side,
#: so dispatch costs nothing.
BLAS_MIN_K = 16


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
    min_blas_k: int = BLAS_MIN_K,
) -> DataFrame:
    """Centroid assignment as one Arrow-batched BLAS pass: every input
    column passes through unchanged plus an ``out_col`` int cluster id.

    Same argmin contract as ``_nearest`` (squared L2, lowest-index
    tie-break — np.argmin), but evaluated as ONE ``X @ C.T`` matmul per
    Arrow batch instead of k×d interpreted higher-order lambdas per row.
    Catalyst does not codegen ArrayAggregate/ArrayTransform, so the
    expression form pays interpreted-eval cost ~n·k·d — at k=80, d=64
    that is the dominant term of the semantic-dedup screen. The matmul
    form is the shape SemDeDup/FAISS run at paper scale: centroids ride
    the closure (k×d doubles, trivially broadcastable), the corpus
    streams partition-parallel, no shuffle.

    Use when arithmetic determinism vs a SQL oracle is NOT required
    (plain IEEE doubles, BLAS summation order): screens, rows-only
    queries, index builds. The expression path (``_nearest``) remains
    the oracle-parity verifier.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    if len(centroids) < min_blas_k:
        # small codebooks: k·d interpreted ops/row are cheaper than
        # round-tripping the row through Arrow; same argmin contract
        return fan_out(df).withColumn(
            out_col, _nearest(F.col(vec_col), centroids)["c"]
        )
    cents = [[float(x) for x in row] for row in centroids]
    cols = list(df.columns)
    # StructType.add mutates in place — build a fresh schema instead of
    # appending to the frame's cached one
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, IntegerType(), False)]
    )

    def process(batches):
        import numpy as np

        C = np.array(cents, dtype=np.float64)
        c2 = (C * C).sum(axis=1)
        for pdf in batches:
            if len(pdf):
                X = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is
                # row-constant so the argmin needs only these two terms
                d2 = c2[None, :] - 2.0 * (X @ C.T)
                assign = np.argmin(d2, axis=1).astype(np.int32)
            else:
                assign = np.array([], dtype=np.int32)
            yield pdf[cols].assign(**{out_col: assign})

    return fan_out(df).mapInPandas(process, schema)


def _lloyd_numpy(X, k: int, max_iter: int, tol: float) -> list[list[float]]:
    """Driver-side Lloyd iterations on a collected sample — same rules
    as the distributed loop: init = first k rows (caller pre-orders),
    squared-L2 argmin with lowest-index tie-break (np.argmin), empty
    clusters keep their previous centroid, stop when the max
    per-coordinate shift < tol."""
    import numpy as np

    cents = X[:k].copy()
    for _ in range(max_iter):
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 is constant
        # per row so argmin needs only the last two terms (BLAS matmul)
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (X @ cents.T)
        assign = np.argmin(d2, axis=1)
        new = cents.copy()
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
        shift = float(np.abs(new - cents).max(initial=0.0))
        cents = new
        if shift < tol:
            break
    return [[float(x) for x in row] for row in cents]


def kmeans_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    max_iter: int = 8,
    sample_fraction: float | None = None,
    seed: int = 42,
    tol: float = 1e-4,
    driver_cap: int = 100_000,
) -> list[list[float]]:
    """Lloyd's k-means; returns centroids as plain lists (driver-side
    k×d floats — broadcastable by literal).

    Init: deterministic sample of k rows. Each iteration: one broadcast
    (centroids as literals), one groupBy(cluster) shuffle of
    per-dimension decimal-free sums. Empty clusters keep their previous
    centroid. The training set is localCheckpointed once, so each
    iteration scans stored partitions instead of re-reading and
    re-partitioning the source. Converged when the max per-coordinate
    centroid shift drops below ``tol`` (exact float equality almost
    never happens, so without a tolerance every fit pays all
    ``max_iter`` rounds). The training set may be a sample — at 100 TB
    you fit on ~1M sampled rows and index the full corpus with the
    frozen centroids.
    """
    vecs = df.select(F.col(vec_col).alias("v"))
    if sample_fraction:
        vecs = vecs.sample(fraction=sample_fraction, seed=seed)
    if vecs.count() <= driver_cap:
        # the (sampled) training set is driver-sized: collect once in
        # the SAME deterministic hash order the distributed init uses
        # (first k rows = identical init) and run Lloyd in numpy —
        # O(iters) BLAS passes replace O(iters) Spark jobs whose fixed
        # cost dominates at sample scale. This IS the stated design
        # ("fit on a bounded sample, index the corpus with frozen
        # centroids"); corpora above the cap keep the distributed loop,
        # and the fan_out/checkpoint cost is skipped entirely here (two
        # source-scan jobs total: the count and the ordered collect).
        import numpy as np

        rows = vecs.orderBy(F.xxhash64(F.col("v").cast("string"))).collect()
        X = np.array([r.v for r in rows], dtype=np.float64)
        return _lloyd_numpy(X, k, max_iter, tol)
    vecs = fan_out(vecs).localCheckpoint(eager=True)
    centroids = [
        [float(x) for x in r.v]
        for r in vecs.toDF("v").orderBy(F.xxhash64(F.col("v").cast("string"))).limit(k).collect()
    ]
    dim = len(centroids[0])
    try:
        for _ in range(max_iter):
            assigned = vecs.withColumn("cl", _nearest(F.col("v"), centroids)["c"])
            # update step: explode to (cl, dim, x) and aggregate narrow —
            # one small fixed-shape plan per iteration (a dim-wide column
            # aggregate recompiles dim sum expressions every iteration and
            # dominates wall-clock)
            sums = (
                assigned.select("cl", F.posexplode("v").alias("i", "x"))
                .groupBy("cl", "i")
                .agg(F.sum(F.col("x").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            acc: dict[int, list[float]] = {}
            cnt: dict[int, int] = {}
            for r in sums:
                acc.setdefault(r.cl, [0.0] * dim)[r.i] = r.s
                cnt[r.cl] = r.n
            new = list(centroids)
            for cl, vec in acc.items():
                new[cl] = [x / cnt[cl] for x in vec]
            shift = max(
                (abs(a - b) for nc, oc in zip(new, centroids) for a, b in zip(nc, oc)),
                default=0.0,
            )
            centroids = new
            if shift < tol:
                break
    finally:
        release_checkpoint(vecs)
    return centroids


def ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    deterministic: bool = True,
) -> DataFrame:
    """Corpus + ``ivf_list`` column (nearest-centroid id) — map-side.

    Index contents feed PERSISTED, equivalence-tested artifacts
    (``ivf_index_update``'s update ≡ rebuild row-for-row contract must
    hold even when the update and the rebuild run on different hosts or
    BLAS builds), so the default assignment is the expression-path
    argmin (``_nearest``) — identical IEEE arithmetic everywhere Spark
    runs. ``deterministic=False`` opts into the Arrow+BLAS matmul pass
    (same argmin + lowest-index tie-break, but near-tie distances are
    summed in BLAS order and can resolve differently across BLAS
    builds/thread counts) for transient in-memory assignment where
    throughput dominates and nothing is persisted."""
    if deterministic:
        return fan_out(corpus).withColumn(
            "ivf_list", _nearest(F.col(vec_col), centroids)["c"]
        )
    return assign_clusters(corpus, centroids, vec_col=vec_col, out_col="ivf_list")


def _probes(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """(qid, qvec, ivf_list): each query once per list among its
    ``nprobe`` nearest centroids."""
    carr = _lit_matrix(centroids)
    probe_lists = F.slice(
        F.transform(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda i: F.struct(
                        _sq_dist(F.col(vec_col), F.element_at(carr, i + 1)).alias("d"),
                        i.alias("c"),
                    ),
                )
            ),
            lambda s: s["c"],
        ),
        1,
        nprobe,
    )
    return queries.select(
        F.col(query_id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        # explode_outer + post-filter: plain explode would re-run the
        # all-centroid distance scoring inside an inferred size()>0 scan guard
        F.explode_outer(probe_lists).alias("ivf_list"),
    ).filter(F.col("ivf_list").isNotNull())


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    centroids: list[list[float]] | None = None,
    max_iter: int = 8,
) -> DataFrame:
    """Approximate cosine top-k through an IVF index.

    Each query expands to its ``nprobe`` nearest lists (broadcast), the
    candidate join is list-local, and only candidates are scored —
    |corpus|·nprobe/nlist distance computations. Recall rises with
    nprobe (nprobe = nlist ⇒ exact).
    """
    from xngin_spark.operators.similarity import _top_k, cosine

    if centroids is None:
        centroids = kmeans_fit(corpus, nlist, vec_col, max_iter=max_iter)
    # transient per-call assignment, nothing persisted → BLAS path OK
    indexed = ivf_index(corpus, centroids, vec_col, deterministic=False)

    q = _probes(queries, centroids, nprobe, vec_col, query_id_col)
    scored = indexed.join(F.broadcast(q), "ivf_list").withColumn(
        "cosine", cosine(F.col(vec_col), F.col("qvec"))
    )
    return _top_k(scored, k, id_col)


def tune_nprobe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    recall_target: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> tuple[int | None, DataFrame]:
    """Smallest ``nprobe`` whose recall@k against the exact cosine
    top-k meets ``recall_target`` on a held-out query sample — the knob
    a 100 TB operator otherwise sets blind. Returns
    ``(nprobe_or_None, curve)`` where ``curve`` is one row per nprobe
    value (nprobe, hits, recall).

    ONE pass covers every nprobe value via the probe-rank identity: an
    exact top-k member is retrieved at nprobe=p iff the list containing
    it ranks ≤ p among the query's centroid distances — because IVF
    candidates are a subset of the corpus scored by the same cosine
    (and the same tie-break), a true top-k member present among the
    candidates always survives the top-k re-rank. So recall@k(p) is the
    cumulative distribution of hit probe-ranks: |queries|·k exact hits
    joined once against the assignment and the per-query probe order,
    instead of nlist full IVF runs. Cost: one exact top-k on the sample
    (the ground truth any tuner needs) + one corpus assignment pass.
    """
    from xngin_spark.operators.similarity import cosine_topk

    spark = corpus.sparkSession
    nlist = len(centroids)
    exact = cosine_topk(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select("qid", F.col(id_col))
    assigned = ivf_index(corpus, centroids, vec_col).select(
        id_col, "ivf_list"
    )
    carr = _lit_matrix(centroids)
    ordered = F.transform(
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(nlist - 1)),
                lambda i: F.struct(
                    _sq_dist(F.col(vec_col), F.element_at(carr, i + 1)).alias(
                        "d"
                    ),
                    i.alias("c"),
                ),
            )
        ),
        lambda s: s["c"],
    )
    pq = queries.select(
        F.col(query_id_col).alias("qid"),
        F.posexplode(ordered).alias("pos", "ivf_list"),
    ).select("qid", (F.col("pos") + 1).alias("probe_rank"), "ivf_list")
    hit_ranks = exact.join(assigned, id_col).join(
        F.broadcast(pq), ["qid", "ivf_list"]
    )
    spine = spark.range(1, nlist + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    total = exact.count()
    curve = (
        spine.join(
            hit_ranks.select("probe_rank"),
            F.col("probe_rank") <= F.col("nprobe"),
            "left",
        )
        .groupBy("nprobe")
        .agg(F.count("probe_rank").alias("hits"))
        .select(
            "nprobe",
            "hits",
            F.round(F.col("hits") / F.lit(float(total)), 8).alias("recall"),
        )
        .orderBy("nprobe")
    )
    best = None
    for r in curve.collect():  # nlist rows — metadata-scale
        if r["recall"] >= recall_target:
            best = int(r["nprobe"])
            break
    return best, curve


def ivf_persist(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Write the IVF index as parquet PARTITIONED BY the inverted list.

    This is the production ANN layout: searching with ``nprobe`` lists
    then reads ONLY nprobe/nlist of the files via static partition
    pruning — at 100 TB the scan cost of a probe is proportional to the
    lists probed, not the corpus. (The in-memory path re-assigns the
    corpus per query; this pays assignment once at ingest, like the
    reference pays its shard layout at load time.)"""
    # cluster by the partition column BEFORE the partitioned write:
    # without it every task writes a file into every list directory
    # (tasks × nlist tiny files + a parquet writer per open partition —
    # the classic partitioned-write anti-pattern); with it each list is
    # written by exactly one task as one file
    (
        ivf_index(corpus, centroids, vec_col)
        .repartition(len(centroids), F.col("ivf_list"))
        .write.mode(mode)
        .partitionBy("ivf_list")
        .parquet(path)
    )


def ivf_index_update(
    new_snapshot: DataFrame,
    diff: DataFrame,
    path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
) -> None:
    """Apply a ``table_diff`` delta to a persisted IVF index IN PLACE —
    the ANN twin of dedup.minhash_index_update: centroids are FROZEN
    (the deployed shape — retraining them re-shards every list, which
    is a rebuild by definition), so inserted/updated vectors assign
    map-side from a delta-sized semi-join and append into exactly
    their list's partition directory, while deleted/updated ids are
    scrubbed by rewriting only the list files that contain them
    (sources/dml.scrub_rows — the hive partition value lives in the
    directory, so replacement files land in place). A pure-insert
    batch touches zero existing bytes and grows only the lists it
    lands in; partition pruning on probes is untouched."""
    spark = new_snapshot.sparkSession

    gone = (
        diff.filter(F.col(op_col).isin("delete", "update"))
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    fresh_ids = diff.filter(F.col(op_col).isin("insert", "update")).select(
        id_col
    )
    changed = new_snapshot.join(F.broadcast(fresh_ids), id_col)
    additions = ivf_index(changed, centroids, vec_col)

    from xngin_spark.sources.dml import scrub_rows

    scrub_rows(spark, path, gone, id_col, partition_cols=["ivf_list"])
    (
        additions.repartition(len(centroids), F.col("ivf_list"))
        .write.mode("append")
        .partitionBy("ivf_list")
        .parquet(path)
    )
    spark.catalog.refreshByPath(path)
    # bound per-list small-file debt (probes read single partitions)
    from xngin_spark.sources.layout import auto_compact

    auto_compact(spark, path)


def cosine_topk_ivf_persisted(
    spark,
    path: str,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
) -> DataFrame:
    """Probe a persisted IVF index. The ``ivf_list IN (…)`` filter is a
    partition-column predicate, so Catalyst prunes non-probed list
    directories at planning time — verify with df.inputFiles() or the
    scan's 'partition filters' in explain().

    Queries collapse to a driver-side probe-list union (queries are a
    handful of vectors by contract — same broadcast-side assumption as
    cosine_topk_ivf); the corpus side never materializes un-probed
    partitions."""
    from xngin_spark.operators.similarity import _top_k, cosine

    q = _probes(queries, centroids, nprobe, vec_col, query_id_col)
    probed = sorted({r.ivf_list for r in q.select("ivf_list").distinct().collect()})
    indexed = spark.read.parquet(path).filter(F.col("ivf_list").isin(probed))
    scored = indexed.join(F.broadcast(q), "ivf_list").withColumn(
        "cosine", cosine(F.col(vec_col), F.col("qvec"))
    )
    return _top_k(scored, k, id_col)


# --- Product quantization (PQ) --------------------------------------------


def pq_fit(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 2,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks: split each vector into ``m``
    contiguous subvectors of dim/m and k-means each subspace
    independently. Returns m codebooks of k centroids.

    Codebooks train on a sample (pass ``sample_fraction``) exactly like
    IVF centroids — at 100 TB you fit on ~1M rows and encode the full
    corpus with frozen books. ``dim`` is explicit, never inferred with a
    driver-side peek."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    vecs = df.select(F.col(vec_col).alias("v"))
    if sample_fraction:
        vecs = vecs.sample(fraction=sample_fraction, seed=42)
    # ALL subspaces train together: explode each vector to m
    # (subspace, subvector) rows so every Lloyd iteration is ONE job and
    # one narrow shuffle for the whole codebook set, not m of each — at
    # bench scale iteration count drives plan-compile cost, and on a
    # cluster it halves the number of full passes over the sample.
    subs = fan_out(vecs).select(
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.alias("s"), F.slice(F.col("v"), s * sub + 1, sub).alias("v")
                ),
            )
        ).alias("e")
    ).select(F.col("e.s").alias("s"), F.col("e.v").alias("v"))
    subs = subs.localCheckpoint(eager=True)  # explode once, iterate many

    from pyspark.sql import Window

    w = Window.partitionBy("s").orderBy(F.xxhash64(F.col("v").cast("string")))
    init = (
        subs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    )
    # collect() row order is not deterministic across runs — rebuild the
    # (s, rn) order explicitly so codebook slot assignment is stable
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in sorted(init, key=lambda r: (r.s, r.rn)):
        books[r.s].append([float(x) for x in r.v])
    # fewer distinct training rows than k in some subspace: clamp k so
    # assign_expr never indexes an empty codebook slot (element_at past
    # the end errors under ANSI mode)
    k = min([k] + [len(bk) for bk in books])
    if k == 0:
        raise ValueError("pq_fit: empty training sample")
    books = [bk[:k] for bk in books]

    def assign_expr(bks):
        # nearest centroid within the row's own subspace: index the
        # m×k×sub literal into the s'th codebook, argmin over k
        ball = F.array(*[_lit_matrix(bk) for bk in bks])
        my_book = F.element_at(ball, F.col("s") + 1)
        scored = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.struct(
                _sq_dist(F.col("v"), F.element_at(my_book, i + 1)).alias("d"),
                i.alias("c"),
            ),
        )
        return F.array_min(scored)["c"]

    for _ in range(max_iter):
        sums = (
            subs.withColumn("cl", assign_expr(books))
            .select("s", "cl", F.posexplode("v").alias("i", "x"))
            .groupBy("s", "cl", "i")
            .agg(F.sum(F.col("x").cast("double")).alias("sm"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [[list(c) for c in bk] for bk in books]
        counts: dict[tuple[int, int], int] = {}
        for r in sums:
            new[r.s][r.cl][r.i] = r.sm
            counts[(r.s, r.cl)] = r.n
        for (s, cl), n in counts.items():
            new[s][cl] = [x / n for x in new[s][cl]]
        if new == books:
            break
        books = new
    release_checkpoint(subs)
    return books


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors as m uint8-range codes (nearest centroid per
    subspace) — a dim×4-byte float vector becomes m bytes, the shuffle
    and memory currency of billion-scale ANN. Map-side only."""
    sub = len(books[0][0])
    codes = [
        _nearest(F.slice(F.col(vec_col), s * sub + 1, sub), books[s])["c"].cast("int")
        for s in range(len(books))
    ]
    return df.select(F.col(id_col), F.array(*codes).alias("pq_code"))


def pq_search(
    codes: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query's exact distance to
    every centroid of every subspace is a tiny driver-side table
    (m×k floats) folded into the plan as literals; each corpus row then
    costs m array lookups + adds — no vector math, no join, one fused
    TakeOrderedAndProject."""
    m = len(books)
    sub = len(books[0][0])
    tables = []
    for s in range(m):
        q_sub = query_vec[s * sub : (s + 1) * sub]
        tables.append(
            [sum((a - b) ** 2 for a, b in zip(q_sub, c)) for c in books[s]]
        )
    dist = None
    for s in range(m):
        lut = _lit_vec(tables[s])
        term = F.element_at(lut, F.element_at(F.col("pq_code"), s + 1) + 1)
        dist = term if dist is None else dist + term
    return (
        codes.select(id_col, dist.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )
