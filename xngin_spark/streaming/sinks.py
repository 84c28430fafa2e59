"""Incremental materialized view: streaming window aggregates upserted
into partitioned parquet via ``foreachBatch`` + dynamic partition
overwrite.

Update-mode emits only the (window, key) rows whose aggregate changed in
a micro-batch; overwriting exactly those rows' partitions converges the
parquet table to the batch answer and is idempotent under replays (a
re-delivered batch rewrites the same partitions with the same state).
This is the standard lambda-architecture collapse: one streaming job
maintains the serving table instead of nightly batch rebuilds.

Partition granularity IS the correctness unit: dynamic overwrite
replaces whole partitions, so the partition key must include every
grouping column that update-mode can emit independently (here
(window, event_type)). Partitioning by window alone would drop the
other event types of a half-updated window. At 100 TB the same layout
holds — partitions stay small because they're per-(hour, type), and
the writer touches only partitions the watermark is still moving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from xngin_spark.streaming.io import _run_to_end, to_naive


def incremental_window_counts(
    sdf: DataFrame,
    path: str,
    checkpoint_dir: str,
    delay: str = "2 hours",
    timeout_s: int | None = None,
) -> None:
    """Maintain a parquet table of hourly per-type event counts from a
    stream, exactly-once per partition. Runs availableNow to exhaustion
    (raises on timeout like streaming/io.run_available_now; every sink
    here defaults to XNGIN_STREAM_TIMEOUT_S, else 120s)."""
    agg = (
        sdf.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    # zoneless bounds out (see streaming/io.to_naive) so the parquet MV
    # carries the same naive values as the batch twin in any session tz
    agg = agg.withColumn("window_start", to_naive("window_start"))

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(
                "w_part", F.date_format("window_start", "yyyy-MM-dd-HH")
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("w_part", "event_type")
            .parquet(path)
        )

    _run_to_end(
        agg.sparkSession,
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir),
        "incremental sink",
        timeout_s,
    )


def incremental_ivf_index(
    sdf: DataFrame,
    centroids: list[list[float]],
    path: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    timeout_s: int | None = None,
) -> None:
    """Maintain a partition-pruned IVF ANN index from a STREAM of
    embeddings: each micro-batch assigns its vectors to their nearest
    (frozen) centroid map-side — no shuffle, centroids are plan
    literals — and lands under ``path/batch=<id>/ivf_list=<l>/``.

    Exactly-once: a batch overwrites ITS OWN batch directory, so a
    replayed micro-batch rewrites identical files instead of appending
    duplicates. Readers discover (batch, ivf_list) as partition columns;
    probes filter on ivf_list, so directory pruning skips un-probed
    lists across every batch — the streaming twin of
    operators/clustering.ivf_persist, and the shape that keeps a
    continuously-ingesting 100 TB corpus searchable without rebuilds.
    Compact old batch dirs offline when small files accumulate (same
    discipline as any streaming parquet sink).
    """
    from xngin_spark.operators.clustering import _nearest

    assigned = sdf.withColumn("ivf_list", _nearest(F.col(vec_col), centroids)["c"])

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .partitionBy("ivf_list")
            .parquet(f"{path}/batch={batch_id}")
        )

    _run_to_end(
        assigned.sparkSession,
        assigned.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        "ivf index sink",
        timeout_s,
    )


def streaming_ingest_admit(
    sdf: DataFrame,
    index_path: str,
    corpus_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    timeout_s: int | None = None,
) -> None:
    """The full ingest loop as ONE streaming job: each micro-batch of
    documents is screened against the persisted MinHash index
    (operators/dedup.minhash_screen — band-bucket probe, corpus text
    never read), near-duplicates are rejected, survivors land in
    ``corpus_path/batch=<id>/`` and the index is updated with exactly
    the admitted rows — so a document admitted in batch N screens out
    its copies arriving in batch N+1. This is the piece the separate
    screen/update operators don't give you: the index FOLLOWS the
    stream, no nightly rebuild, no widening dup window between
    rebuilds.

    Exactly-once under foreachBatch replays: the corpus write
    overwrites the batch's own directory, and the index delta is
    applied with op='update' — minhash_index_update scrubs the batch's
    ids before appending, so a re-delivered batch converges to the
    same index rows instead of duplicating signatures. The scrub is
    delta-sized (file-level copy-on-write on only the files holding
    those ids); a first delivery scrubs nothing and appends fresh
    files — the pure-insert fast path.

    At 100 TB: per-batch cost is batch-sized (map-side signing, band
    rows broadcast to the probe join, delta-sized index append);
    nothing rescans the corpus or the index beyond the probed buckets.
    Compact the accreted small files offline with
    sources/layout.compact_small_files — the index answers identically
    afterward (tests/test_round7_ops.py lifecycle test).
    """
    from xngin_spark.operators.dedup import (
        minhash_index_update,
        minhash_screen,
    )

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates([id_col]).localCheckpoint(eager=True)
        if not batch.head(1):
            return
        dup_ids = (
            minhash_screen(
                batch,
                index_path,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        admitted = batch.join(
            F.broadcast(dup_ids), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        admitted.write.mode("overwrite").parquet(
            f"{corpus_path}/batch={batch_id}"
        )
        if not admitted.head(1):
            return
        diff = admitted.select(id_col).withColumn("op", F.lit("update"))
        minhash_index_update(admitted, diff, index_path)

    _run_to_end(
        sdf.sparkSession,
        sdf.writeStream.foreachBatch(admit)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        "ingest-admit sink",
        timeout_s,
    )


def streaming_vector_ingest_admit(
    sdf: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    corpus_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    timeout_s: int | None = None,
) -> None:
    """The VECTOR twin of :func:`streaming_ingest_admit`: each
    micro-batch of embeddings is assigned its (frozen-centroid) IVF
    list map-side, screened for near-duplicates against ONLY the lists
    it lands in — the ``ivf_list IN (...)`` filter is a partition
    predicate on the persisted index, so the probe reads batch-lists'
    files, never the corpus — survivors land in
    ``corpus_path/batch=<id>/`` and clustering.ivf_index_update
    appends exactly the admitted vectors into their list partitions.
    A vector admitted in batch N therefore rejects its copies in
    batch N+1 without any rebuild.

    Screen scope is nprobe=1 (own list): for a DUP screen the copy of
    a stored vector assigns to the stored vector's list by
    construction (identical input, frozen centroids, deterministic
    tie-break), so same-list probing is exact for the
    near-threshold-1 duplicates the screen exists to stop; a recall
    search over neighbors uses cosine_topk_ivf_persisted's nprobe
    knob instead.

    Exactly-once under replays: per-batch corpus dir overwrite +
    op='update' (scrub-then-append) on the index — same convergence
    contract as the document loop, partition-local file rewrites only.
    """
    from xngin_spark.operators.clustering import ivf_index, ivf_index_update
    from xngin_spark.operators.similarity import cosine

    def admit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates([id_col]).localCheckpoint(eager=True)
        if not batch.head(1):
            return
        assigned = ivf_index(batch, centroids, vec_col).localCheckpoint(
            eager=True
        )
        lists = [
            r["ivf_list"]
            for r in assigned.select("ivf_list").distinct().collect()
        ]
        try:
            stored = spark.read.parquet(index_path).filter(
                F.col("ivf_list").isin(lists)
            )
        except AnalysisException:
            # first batch against a not-yet-created index: the stored
            # side is empty, everything admits, and the index write
            # below seeds the path — no separate seed step required
            # (the epoch sink documents its epoch=-1 seed; this sink's
            # contract is "missing index == empty index")
            stored = assigned.limit(0)
        dup_ids = (
            assigned.select(
                F.col(id_col).alias("new_id"),
                F.col(vec_col).alias("qvec"),
                "ivf_list",
            )
            .join(
                stored.select(
                    F.col(vec_col).alias("cvec"), "ivf_list"
                ),
                "ivf_list",
            )
            .withColumn("cosine", cosine(F.col("qvec"), F.col("cvec")))
            .filter(F.col("cosine") >= threshold)
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        admitted = batch.join(
            F.broadcast(dup_ids), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        admitted.write.mode("overwrite").parquet(
            f"{corpus_path}/batch={batch_id}"
        )
        if not admitted.head(1):
            return
        diff = admitted.select(id_col).withColumn("op", F.lit("update"))
        ivf_index_update(
            admitted, diff, index_path, centroids, id_col, vec_col
        )

    _run_to_end(
        sdf.sparkSession,
        sdf.writeStream.foreachBatch(admit)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        "vector ingest-admit sink",
        timeout_s,
    )


def _latest_rollup_epoch(rollup_path: str, below: int | None = None) -> int | None:
    """Newest epoch directory under ``rollup_path`` (optionally below a
    batch id) — driver-side listing of a rollup-sized state dir."""
    import glob
    import os

    epochs = []
    for p in glob.glob(os.path.join(rollup_path, "epoch=*")):
        try:
            e = int(os.path.basename(p).split("=", 1)[1])
        except ValueError:
            continue
        if below is None or e < below:
            epochs.append(e)
    return max(epochs) if epochs else None


def apply_cdc_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    rollup_path: str,
    group_col: str,
    val_col: str,
    key_cols: list[str],
) -> None:
    """ONE micro-batch of the CDC rollup loop, module-level so replay
    convergence is directly testable: read the newest epoch BELOW this
    batch id, apply the batch's delta additively, OVERWRITE
    ``epoch=<batch_id>``. A replayed batch re-reads the same
    predecessor epoch and rewrites its own directory, so delivery
    retries converge instead of double-counting — the write-ahead-by-
    epoch form of the ingest-admit loop's scrub-then-append.

    A batch costs three jobs: the dedup shuffle, one union-aggregate
    of the deduplicated batch with the predecessor epoch
    (sources/dml.maintain_agg_additive; the epoch is read with its
    known schema) and the epoch write — no barrier, no
    schema-inference job."""
    _apply_rollup_batch(
        batch_df, batch_id, rollup_path, group_col, val_col, key_cols
    )


def apply_cdc_rollup_batch_multi(
    batch_df: DataFrame,
    batch_id: int,
    rollup_path: str,
    group_col: str,
    val_cols: list[str],
    key_cols: list[str],
) -> None:
    """Multi-measure :func:`apply_cdc_rollup_batch` — same write-ahead
    epoch protocol, with k measures folded into the one aggregate
    (sources/dml.maintain_agg_additive_multi)."""
    _apply_rollup_batch(
        batch_df, batch_id, rollup_path, group_col, val_cols, key_cols
    )


def _apply_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    rollup_path: str,
    group_col: str,
    val_cols: str | list[str],
    key_cols: list[str],
) -> None:
    """The body of both rollup batch functions; a ``str`` ``val_cols``
    is the single-measure state shape."""
    import glob
    import os
    import shutil

    from xngin_spark.sources import dml

    if isinstance(val_cols, str):
        seed, maintain = dml.agg_state_additive, dml.maintain_agg_additive
    else:
        seed = dml.agg_state_additive_multi
        maintain = dml.maintain_agg_additive_multi
    prior = _latest_rollup_epoch(rollup_path, below=batch_id)
    if prior is None:
        raise ValueError(
            f"no seed epoch under {rollup_path} — write the initial "
            "agg state to epoch=-1 before starting the stream"
        )
    # the state's schema is the seed's over the images' own types —
    # derived by analysis, so reading the epoch submits no job
    schema = seed(batch_df.select("_new.*"), group_col, val_cols).schema
    agg_old = batch_df.sparkSession.read.schema(schema).parquet(
        f"{rollup_path}/epoch={prior}"
    )
    updated = maintain(
        agg_old, batch_df.dropDuplicates(key_cols), group_col, val_cols
    )
    updated.write.mode("overwrite").parquet(f"{rollup_path}/epoch={batch_id}")
    # prune epochs OLDER than this batch's predecessor: a foreachBatch
    # replay can only be of THIS batch (which re-reads ``prior`` — kept)
    # or a later one (which reads ``batch_id``'s output or newer), so
    # anything below ``prior`` is unreachable state. Keeps the state
    # dir at two rollup-sized epochs regardless of stream lifetime.
    for p in glob.glob(os.path.join(rollup_path, "epoch=*")):
        try:
            e = int(os.path.basename(p).split("=", 1)[1])
        except ValueError:
            continue
        if e < prior:
            shutil.rmtree(p, ignore_errors=True)


def streaming_agg_maintain(
    change_stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    group_col: str,
    val_col: str,
    key_cols: list[str],
    timeout_s: int | None = None,
) -> None:
    """Maintain a persisted additive rollup from a CDC change STREAM —
    the materialized-view half of the ingest loop: the stream carries
    image-bearing change rows (op, _old, _new — cdc_changes' shape),
    each micro-batch folds its signed images into the epoch-versioned
    rollup state, and the 100 TB base table is NEVER read. Per-batch
    cost: delta-sized map work plus ONE aggregate over the union of
    the images and the rollup-sized previous epoch — no join, one job.
    At-least-once duplicate delivery collapses via dropDuplicates on
    the CDC key BEFORE any state is touched; batch replays converge
    via the epoch protocol (see :func:`apply_cdc_rollup_batch`).

    Seed contract: write :func:`~xngin_spark.sources.dml.
    agg_state_additive` of the base table (group, cnt, total_dec,
    cnt_val) to ``{rollup_path}/epoch=-1`` first; read the final state
    from the newest epoch after the run."""
    _run_rollup_stream(
        change_stream, rollup_path, checkpoint_dir, group_col, val_col,
        key_cols, timeout_s,
    )


def streaming_agg_maintain_multi(
    change_stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    group_col: str,
    val_cols: list[str],
    key_cols: list[str],
    timeout_s: int | None = None,
) -> None:
    """Multi-measure :func:`streaming_agg_maintain`: a k-measure
    maintained materialized view costs one aggregate per micro-batch,
    not k — same epoch protocol, same replay convergence, same seed
    contract (epoch=-1 holding
    :func:`~xngin_spark.sources.dml.agg_state_additive_multi`)."""
    _run_rollup_stream(
        change_stream, rollup_path, checkpoint_dir, group_col, val_cols,
        key_cols, timeout_s,
    )


def _run_rollup_stream(
    change_stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    group_col: str,
    val_cols: str | list[str],
    key_cols: list[str],
    timeout_s: int | None,
) -> None:
    def apply(batch_df: DataFrame, batch_id: int) -> None:
        _apply_rollup_batch(
            batch_df, batch_id, rollup_path, group_col, val_cols, key_cols
        )

    _run_to_end(
        change_stream.sparkSession,
        change_stream.writeStream.foreachBatch(apply)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        "agg-maintain sink",
        timeout_s,
    )


def apply_cdc_bm25_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    token_prefix: str = "",
) -> None:
    """One micro-batch of image-carrying CDC rows (op, _old, _new —
    cdc_changes' shape) applied to a persisted BM25 index. The fresh
    documents' text comes from the ``_new`` images, so the sink NEVER
    reads the base table — the lexical index follows the change feed
    alone.

    Exactly-once comes from bm25_index_update's stage-then-commit
    protocol: the batch token (``token_prefix:batch_id`` — the prefix
    scopes tokens to one stream, so a NEW stream replaying batch ids
    from 0 against an existing index is never mistaken for a
    redelivery) lets a foreachBatch replay skip a committed batch or
    roll a crashed apply forward from its staged absolutes, including
    crashes BETWEEN the update's table writes. In-batch duplicate rows
    collapse on the CDC key BEFORE any state is touched (at-least-once
    delivery)."""
    from xngin_spark.operators.corpus import bm25_index_update

    spark = batch_df.sparkSession
    meta = spark.read.json(f"{index_path}/_meta").head()
    id_col, text_col = meta["id_col"], meta["text_col"]
    b = batch_df.dropDuplicates([id_col]).localCheckpoint(eager=True)
    if not b.head(1):
        return
    snapshot_like = b.filter(F.col("op").isin("insert", "update")).select(
        F.col(id_col), F.col(f"_new.{text_col}").alias(text_col)
    )
    bm25_index_update(
        snapshot_like,
        b.select(id_col, "op"),
        index_path,
        batch_token=f"{token_prefix}:{batch_id}",
    )


def streaming_bm25_maintain(
    change_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    timeout_s: int | None = None,
) -> None:
    """Maintain a persisted BM25 index from a CDC change STREAM — the
    lexical-index member of the streaming ingest loop (the rollup MV
    and vector screens already run as streams; with this, every index
    family the engine persists follows the change feed end-to-end).
    Per-batch cost is delta-sized tokenize + surgical copy-on-write;
    the corpus is never re-read. Runs availableNow to exhaustion."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_bm25_batch(
            batch_df, batch_id, index_path, token_prefix=checkpoint_dir
        )

    _run_to_end(
        change_stream.sparkSession,
        change_stream.writeStream.foreachBatch(apply)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        "bm25-maintain sink",
        timeout_s,
    )
