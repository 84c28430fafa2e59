"""Streaming sources and the one availableNow runner.

File-stream source over the driver's events parquet. Streaming reads
REQUIRE an explicit schema (no inference mid-stream) — consistent with
the engine-wide schema-pinned policy (sources/readers.py).

The events parquet stores TIMESTAMP(MICROS, isAdjustedToUTC=false),
which maps to TimestampNTZType — zoneless event time, same as the
batch loader (xngin_spark.catalog.events_df). Spark's watermark
operator requires tz-adjusted TIMESTAMP event time
(EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ), so the source reinterprets
NTZ as UTC on ingest (``to_event_time``) and windowed emitters convert
bounds back to naive NTZ (``to_naive``) — both pure integer-micros
reinterpretations, independent of ``spark.sql.session.timeZone``, so
collected values match the zoneless batch/oracle answer in ANY session.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NTZ_EPOCH = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"


def to_event_time(col: str) -> Column:
    """TIMESTAMP_NTZ → TIMESTAMP by UTC reinterpretation (not the
    session-tz cast): epoch micros := naive micros. Tz-independent."""
    return F.expr(f"timestamp_micros(timestampdiff(MICROSECOND, {_NTZ_EPOCH}, {col}))")


def to_naive(col: str) -> Column:
    """TIMESTAMP → TIMESTAMP_NTZ by UTC reinterpretation — inverse of
    ``to_event_time``; emitted window bounds become zoneless again."""
    return F.expr(f"timestampadd(MICROSECOND, unix_micros({col}), {_NTZ_EPOCH})")

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # TIMESTAMP(MICROS), zoneless
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """Schema-pinned parquet file stream; a single-file path is narrowed
    to its directory with a glob (FileStreamSource only lists dirs)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def documents_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over documents parquet (ingest-pipeline source):
    same schema-pinned, glob-narrowed reader as ``events_stream`` minus
    the event-time reinterpretation (documents carry no timestamp)."""
    return _file_stream(spark, path, DOCS_SCHEMA, max_files_per_trigger)


EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def embeddings_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over embeddings parquet (vector-ingest source):
    schema-pinned like ``documents_stream`` — incoming vectors arrive
    as files dropped by an upstream encoder job."""
    return _file_stream(spark, path, EMB_SCHEMA, max_files_per_trigger)


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over a directory of events parquet files.

    ``max_files_per_trigger`` paces ingestion into multiple micro-batches
    (tests use it to exercise cross-batch watermark advancement; in
    production it is the backpressure knob).
    """
    return _file_stream(spark, path, EVENTS_SCHEMA, max_files_per_trigger).withColumn(
        "ts", to_event_time("ts")
    )


def _run_to_end(
    spark: SparkSession,
    writer: DataStreamWriter,
    what: str,
    timeout_s: float | None,
) -> None:
    """Start a configured ``writer`` with an availableNow trigger (process
    everything currently in the source, respecting maxFilesPerTrigger
    pacing, then stop) and wait for it. Every sink in the package runs
    through here.

    Raises TimeoutError naming ``what`` if the run doesn't finish in
    ``timeout_s``, after stopping the query: a partially-populated sink
    left running in the background would silently truncate results.
    ``None`` means the XNGIN_STREAM_TIMEOUT_S env var, else 120s: the
    gate scales finish in seconds, but an sf10 probe sharing the host
    with another run can legitimately cross a fixed 120s (observed: a
    75s clean-host stream timing out under suite contention) — the env
    var stretches every sink's bound without touching registrations."""
    if timeout_s is None:
        raw = os.environ.get("XNGIN_STREAM_TIMEOUT_S", "120")
        try:
            timeout_s = int(raw)
        except ValueError:
            # a typo'd knob must read as a config warning, not as a
            # ValueError deep inside every streaming query (ADVICE r9)
            warnings.warn(
                f"XNGIN_STREAM_TIMEOUT_S={raw!r} is not an integer; "
                "falling back to 120s",
                stacklevel=3,
            )
            timeout_s = 120
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"{what} did not finish in {timeout_s}s")
    finally:
        spark.streams.resetTerminated()


def run_available_now(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    timeout_s: int | None = None,
) -> DataFrame:
    """Run the stream to exhaustion and return the sink table.

    Raises TimeoutError if the run doesn't finish in ``timeout_s``
    (default: XNGIN_STREAM_TIMEOUT_S, else 120s; see ``_run_to_end``).

    Stateful operators size their state store by the session's
    ``spark.sql.shuffle.partitions``, which session.py sets to the core
    count; the run reads and writes no session conf, so a statement
    planning concurrently on the same session sees the session's value.

    The sink is an in-memory table unless XNGIN_STREAM_SINK=parquet:
    the memory sink collects every row on the driver heap, which is the
    bottleneck at scale (the sf100 state twins OOM'd a 28g JVM not on
    streaming STATE — RocksDB moves that off-heap — but on the ~100M-row
    memory sink itself). The parquet sink is the production shape:
    results land under XNGIN_STREAM_SINK_DIR/<name> and the returned
    frame reads them back. Append-mode streams write through the native
    parquet sink; complete/update output replaces per trigger, which
    foreachBatch mirrors with an overwrite write (availableNow → the
    final batch wins, exactly the memory-sink table). A run that wrote
    nothing reads back as an empty frame; any other read error raises.

    ``name`` should be STABLE per call site (not uuid-suffixed): the
    memory sink registers a session-scoped temp view, and a fresh name
    per invocation accumulates dead views across a long bench/service
    session. A stable name is re-registered in place; any previous view
    under it is dropped first so re-runs can't read a stale sink. An
    ACTIVE query already using the name raises instead of aliasing.
    """
    spark = sdf.sparkSession
    for q in spark.streams.active:
        if q.name == name:
            raise ValueError(
                f"streaming query {name!r} is still active — memory-sink "
                "names must be unique among running queries"
            )
    spark.catalog.dropTempView(name)
    if os.environ.get("XNGIN_STREAM_SINK", "memory").lower() == "parquet":
        base = os.environ.get("XNGIN_STREAM_SINK_DIR", "/tmp/xngin_stream_sink")
        out_dir = os.path.join(base, name)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
        if output_mode == "append":
            writer = sdf.writeStream.format("parquet").option("path", out_dir)
        else:
            writer = sdf.writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("overwrite").parquet(out_dir)
            )
    else:
        out_dir = None
        writer = sdf.writeStream.format("memory").queryName(name)
    # own the checkpoint dir and delete it SYNCHRONOUSLY after the run:
    # Spark's auto temp checkpoint is removed by a background thread
    # after query end, and that small-file I/O burst lands on the NEXT
    # query's wall time (measured ~0.5-1s on the bench neighbor of each
    # streaming query). Paying it here keeps cost attribution honest
    # and never leaks the dir on a crash.
    ckpt = tempfile.mkdtemp(prefix=f"xngin-ckpt-{name}-")
    try:
        _run_to_end(
            spark,
            writer.outputMode(output_mode).option("checkpointLocation", ckpt),
            f"stream {name!r}",
            timeout_s,
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    if out_dir is None:
        return spark.table(name)
    return spark.read.schema(sdf.schema).parquet(out_dir)
