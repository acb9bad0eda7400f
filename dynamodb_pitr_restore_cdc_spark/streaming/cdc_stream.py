"""Streaming CDC apply: the E1/E3 paths of the reference re-expressed as
Structured Streaming (SURVEY.md §3).

Reference shape: DynamoDB Stream → SQS FIFO buffer → Lambda drain →
batch_write_item (cdc-to-sqs/main.py:25-34, lambda-backfill/main.py:25-46).
Spark shape: file/Kafka `readStream` → `writeStream.foreachBatch(
validation filter-split (DLQ) + cdc_merge)` with checkpointing. The stream's
checkpoint replaces the SQS buffer (A4), micro-batching replaces the
ESM batching policy (A15), and the seq_no guard inside cdc_merge
replaces FIFO delivery (A6) — order is recovered from data, never
assumed from arrival.

Scale notes (100 TB): the sink here is plain keyed Parquet, rewritten
read-modify-write per micro-batch — correct but O(sink) per batch. The
production-shape upgrade (same cdc_merge logic, different sink driver)
is a key-bucketed layout where each micro-batch rewrites only the
buckets its keys hash into, or a MERGE INTO against a table format
(Delta/Iceberg) when available; cdc_merge itself is already
partition-parallel and sink-agnostic.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..operators.cdc import cdc_merge
from .util import atomic_write_text

CHANGELOG_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("seq_no", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("key", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload_value", T.DoubleType()),
        T.StructField("payload_props", T.StringType()),
        T.StructField("content_hash", T.StringType()),
    ]
)


def parse_changelog_records(raw: DataFrame) -> DataFrame:
    """Decode broker records into the typed changelog stream.

    ``raw`` is any (streaming or static) DataFrame with the Kafka
    source's record shape — at minimum a ``value`` column (binary or
    string) holding the JSON stream-record body the reference emits
    per record (cdc-to-sqs/main.py:33 json.dumps). Broker metadata
    columns (key/topic/partition/offset/timestamp) pass through the
    cast untouched and are dropped by the projection. A record whose
    body fails to parse comes out as an all-NULL row, which
    ``split_dlq`` then routes to the dead-letter output — malformed
    payloads are data, not exceptions (A2/A7).

    Kept separate from the source construction so this — the only
    Kafka-branch logic that can be wrong — runs in CI against a fake
    raw stream even with no broker in the environment."""
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"),
            T.StructType(
                [
                    T.StructField(f.name, f.dataType)
                    for f in CHANGELOG_STREAM_SCHEMA.fields
                ]
            ),
        ).alias("r")
    )
    return parsed.select([F.col(f"r.{f.name}") for f in CHANGELOG_STREAM_SCHEMA.fields])


def read_changelog_stream(
    spark: SparkSession,
    src: str,
    source: str = "files",
    max_files_per_trigger: int = 1,
    starting_offsets: str = "latest",
    raw_stream_factory=None,
) -> DataFrame:
    """Changelog stream source, config-switchable.

    - ``files`` (tests/local): parquet drops in a directory, batch
      decomposition pinned by maxFilesPerTrigger.
    - ``kafka`` (production shape): `src` is "bootstrap_servers/topic";
      the record value is the JSON stream-record body (the reference's
      per-record json.dumps, cdc-to-sqs/main.py:33), parsed by
      ``parse_changelog_records`` — same downstream plan either way.
      startingOffsets="latest" mirrors StartingPosition.LATEST
      (cdk-stack.ts:98). Requires the spark-sql-kafka package on the
      classpath; absent (as in this container) the plan raises at
      start, which tests treat as the documented stub boundary.
      ``raw_stream_factory(spark) -> DataFrame`` swaps the broker
      source for a fake with the same record shape, so the parsing/
      DLQ-routing contract is CI-covered without a broker
      (tests/test_streaming.py)."""
    if source == "files":
        return (
            spark.readStream.schema(CHANGELOG_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(src)
        )
    if source == "kafka":
        if raw_stream_factory is not None:
            return parse_changelog_records(raw_stream_factory(spark))
        servers, _, topic = src.partition("/")
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
        return parse_changelog_records(raw)
    raise ValueError(f"unknown changelog source: {source!r} (expected 'files' or 'kafka')")


def split_dlq(stream: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A2/A7: validation filter-split. Returns (ok, dlq) frames, streaming
    or static alike."""
    bad = F.col("key").isNull() | F.col("op").isNull() | F.col("seq_no").isNull()
    return stream.where(~bad), stream.where(bad)


def _publish_dead_letters(staged: str, dlq_dir: str, epoch_id: int) -> None:
    """Move one epoch's staged dead-letter parts into `dlq_dir` as flat
    ``epoch-{epoch_id}-<part>`` files. Parts an earlier attempt of the
    same epoch left there are removed first, so a replayed epoch
    replaces its rows instead of appending a second copy — even when
    the crashed attempt wrote more part files than this one."""
    prefix = f"epoch-{epoch_id}-"
    for f in os.listdir(dlq_dir):
        if f.startswith(prefix):
            os.remove(os.path.join(dlq_dir, f))
    for f in os.listdir(staged):
        if not f.startswith(("_", ".")):  # _SUCCESS marker, .crc sidecars
            os.replace(os.path.join(staged, f), os.path.join(dlq_dir, prefix + f))
    shutil.rmtree(staged)


def run_cdc_apply(
    spark: SparkSession,
    src_dir: str,
    snapshot: DataFrame,
    work_dir: str,
    dlq_dir: str | None = None,
) -> str:
    """Drain all available changelog files through ONE availableNow
    stream whose foreachBatch splits each micro-batch (``split_dlq``)
    and merges the valid rows (``cdc_merge``), starting from
    `snapshot`. Returns the path of the final sink version.

    Versioned-directory sink: each micro-batch writes `v{epoch}` and
    advances a pointer — read-modify-write against an immutable input,
    so a replayed epoch (at-least-once delivery) simply overwrites its
    own output and, thanks to the seq_no guard in cdc_merge, converges
    to the same state: exactly-once STATE from at-least-once DELIVERY,
    which is precisely what the reference's TODO at
    lambda-backfill/main.py:47 fails to provide.

    Dead letters (A2/A7) leave on the same delivery, like the
    reference's SQS redrive: with `dlq_dir`, epoch e's malformed rows
    become flat parquet files ``dlq_dir/epoch-{e}-part-*`` (changelog
    columns only — no partition column, so ``spark.read.parquet`` and
    ``pyarrow.parquet.read_table`` both read the directory as one
    table). Write order per epoch: the dead-letter rows and `v{e}` are
    two concurrent jobs over the one micro-batch; only when BOTH landed
    does the pointer move to `v{e}`. A crash before the pointer write
    replays the epoch, which replaces its own dead-letter files (never
    appends); a crash after it skips the epoch, whose files already
    landed. Without `dlq_dir`, malformed rows are dropped.
    """
    if dlq_dir is not None:
        if os.path.isdir(os.path.join(dlq_dir, "_spark_metadata")):
            # a file-sink log makes spark.read.parquet list only the files
            # it names, which would hide every file written here
            raise ValueError(f"{dlq_dir} holds a streaming file-sink log; use a fresh dlq_dir")
        os.makedirs(dlq_dir, exist_ok=True)
    os.makedirs(work_dir, exist_ok=True)
    pointer = os.path.join(work_dir, "_LATEST")
    if os.path.exists(pointer):
        # resume: the checkpoint will skip already-committed files, so the
        # sink must resume from its last committed version, not v_init —
        # otherwise replay would merge new batches onto a stale snapshot.
        with open(pointer) as fh:
            snap_path = fh.read().strip()
        schema = None  # the resumed version's schema: inferred once
    else:
        snap_path = os.path.join(work_dir, "v_init")
        snapshot.write.mode("overwrite").parquet(snap_path)
        atomic_write_text(pointer, snap_path)
        schema = snapshot.schema
    # the schema of state["path"] travels with it: every epoch after the
    # first reads its predecessor without a schema-inference job
    state = {"path": snap_path, "schema": schema}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        new_path = os.path.join(work_dir, f"v{epoch_id}")
        if new_path == state["path"]:
            # replay of an epoch whose data AND pointer writes both landed
            # (crash fell between pointer write and the stream's commit-log
            # write). Re-merging would read and overwrite the same path —
            # illegal in Spark — and the seq_no guard makes it a no-op
            # anyway, so the replayed epoch is skipped outright; its
            # dead-letter files landed before the pointer did.
            return
        reader = batch_df.sparkSession.read
        if state["schema"] is not None:
            reader = reader.schema(state["schema"])
        ok, bad = split_dlq(batch_df)
        merged = cdc_merge(reader.parquet(state["path"]), ok)
        if dlq_dir is None:
            merged.write.mode("overwrite").parquet(new_path)
        else:
            staged = os.path.join(dlq_dir, f"_epoch-{epoch_id}.staging")
            # inherit the stream's job group, so stopping the query
            # cancels this job too
            write_bad = inheritable_thread_target(batch_df.sparkSession)(
                lambda: bad.write.mode("overwrite").parquet(staged)
            )
            with ThreadPoolExecutor(max_workers=1) as pool:
                bad_done = pool.submit(write_bad)
                merged.write.mode("overwrite").parquet(new_path)
                bad_done.result()
            _publish_dead_letters(staged, dlq_dir, epoch_id)
        state["path"], state["schema"] = new_path, merged.schema
        # pointer write AFTER the data and dead-letter writes: a crash
        # between them replays the epoch, which overwrites v{epoch} and
        # its dead letters idempotently from the still-prior pointer
        # (atomic: a torn pointer would wedge every resume)
        atomic_write_text(pointer, new_path)

    q = (
        read_changelog_stream(spark, src_dir)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(work_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state["path"]
