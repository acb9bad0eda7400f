"""Dead-letter contract of run_cdc_apply: malformed rows leave on the
same delivery as the merge. One stream, one micro-batch per backlog
file; epoch e's malformed rows land in `dlq_dir` as flat parquet files
before the sink pointer names v{e}, and a replayed epoch replaces its
own dead letters instead of appending a second copy."""

import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from dynamodb_pitr_restore_cdc_spark.streaming import cdc_stream
from dynamodb_pitr_restore_cdc_spark.streaming.cdc_stream import (
    CHANGELOG_STREAM_SCHEMA,
    run_cdc_apply,
)
from tests.test_streaming_resume import _cl

COLUMNS = CHANGELOG_STREAM_SCHEMA.fieldNames()
_ARROW_SCHEMA = pa.schema(
    [
        ("seq_no", pa.int64()),
        ("op", pa.string()),
        ("key", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("payload_value", pa.float64()),
        ("payload_props", pa.string()),
        ("content_hash", pa.string()),
    ]
)

# (seq_no, op, key, payload_value, content_hash); a null seq_no, op or
# key makes the record malformed. content_hash names each record.
F0 = [
    (1, "INSERT", 10, 1.0, "ok1"),
    (2, "INSERT", None, 2.0, "bad1"),
    (None, "INSERT", 12, 3.0, "bad2"),
    (3, "INSERT", 11, 4.0, "ok2"),
]
F1 = [
    (4, "MODIFY", 10, 5.0, "ok3"),
    (5, None, 11, 6.0, "bad3"),
    (6, "INSERT", None, 7.0, "bad4"),
]
F2 = [
    (7, "REMOVE", 11, None, "ok4"),
    (8, None, None, 8.0, "bad5"),
]
STATE_AFTER_F1 = {10: (4, 5.0), 11: (3, 4.0)}
DEAD_AFTER_F1 = [("bad1", 0), ("bad2", 0), ("bad3", 1), ("bad4", 1)]  # (content_hash, epoch)


def _write_file(path, rows, mtime):
    cols = list(zip(*rows))
    n = len(rows)
    table = pa.Table.from_arrays(
        [
            pa.array(cols[0], pa.int64()),
            pa.array(cols[1], pa.string()),
            pa.array(cols[2], pa.int64()),
            pa.array([None] * n, pa.timestamp("us", tz="UTC")),
            pa.array(cols[3], pa.float64()),
            pa.array(["{}"] * n, pa.string()),
            pa.array(cols[4], pa.string()),
        ],
        schema=_ARROW_SCHEMA,
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def _backlog(src, *files, first=0):
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(files, start=first):
        _write_file(os.path.join(src, f"{i:05d}.parquet"), rows, 1_700_000_000 + i)


def _snapshot(spark):
    return _cl(spark, []).selectExpr("key", "seq_no as last_seq", "payload_value")


def _state(spark, path):
    return {r.key: (r.last_seq, r.payload_value) for r in spark.read.parquet(path).collect()}


def _dead_letters(spark, dlq):
    """Sorted (content_hash, epoch) of every dead-letter row, read
    through Spark; a duplicated row shows as a repeated pair."""
    rows = (
        spark.read.parquet(dlq)
        .select("content_hash", F.input_file_name().alias("f"))
        .collect()
    )
    return sorted((r.content_hash, int(os.path.basename(r.f).split("-")[1])) for r in rows)


def _epoch_files(dlq, epoch):
    return [f for f in os.listdir(dlq) if f.startswith(f"epoch-{epoch}-")]


def test_dead_letters_land_once_per_epoch_with_changelog_columns(spark, tmp_path):
    src, work, dlq = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "dlq")
    _backlog(src, F0, F1)

    final = run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
    assert _state(spark, final) == STATE_AFTER_F1

    assert _dead_letters(spark, dlq) == DEAD_AFTER_F1
    # both readers see the changelog columns only: no partition column
    # derived from the layout, no field added by the writer
    assert spark.read.parquet(dlq).columns == COLUMNS
    table = pq.read_table(dlq)
    assert table.column_names == COLUMNS
    assert sorted(table.column("content_hash").to_pylist()) == [h for h, _ in DEAD_AFTER_F1]


def test_resume_adds_only_the_new_epochs_dead_letters(spark, tmp_path):
    src, work, dlq = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "dlq")
    _backlog(src, F0, F1)
    run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
    before = _dead_letters(spark, dlq)

    _backlog(src, F2, first=2)
    final = run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
    assert _state(spark, final) == {10: (4, 5.0)}
    assert _dead_letters(spark, dlq) == sorted([*before, ("bad5", 2)])


def test_replay_after_crash_before_pointer_replaces_dead_letters(spark, tmp_path, monkeypatch):
    """Crash between the dead-letter write and the pointer write: epoch
    1's dead letters landed but the pointer still names v0, so the
    restart replays epoch 1. The crashed attempt wrote one part file per
    row; the replay writes fewer, so keeping any stale part would
    duplicate a row."""
    src, work, dlq = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "dlq")
    _backlog(src, F0, F1)
    real_write = cdc_stream.atomic_write_text
    crashed = []

    def crash_once_on_v1(path, text):
        if text.endswith(f"{os.sep}v1") and not crashed:
            crashed.append(text)
            raise OSError("injected crash before the v1 pointer write")
        real_write(path, text)

    monkeypatch.setattr(cdc_stream, "atomic_write_text", crash_once_on_v1)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        with pytest.raises(Exception, match="injected crash"):
            run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert crashed
    with open(os.path.join(work, "_LATEST")) as fh:
        assert fh.read().strip() == os.path.join(work, "v0")
    crashed_parts = _epoch_files(dlq, 1)
    assert len(crashed_parts) == 2  # the epoch's dead letters are durable

    final = run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
    assert final == os.path.join(work, "v1")
    assert _state(spark, final) == STATE_AFTER_F1
    assert len(_epoch_files(dlq, 1)) < len(crashed_parts)
    assert _dead_letters(spark, dlq) == DEAD_AFTER_F1


def test_replayed_epoch_after_pointer_write_keeps_dead_letters(spark, tmp_path):
    """test_streaming_resume's replayed-epoch skip with dlq_dir set: the
    epoch whose pointer already landed is skipped, and its dead letters,
    written before that pointer, stay exactly as they were."""
    src, work, dlq = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "dlq")
    _backlog(src, F0, F1)
    final1 = run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
    files1 = sorted(os.listdir(dlq))

    commits_dir = os.path.join(work, "_checkpoint", "commits")
    last = sorted(f for f in os.listdir(commits_dir) if not f.startswith("."))[-1]
    os.remove(os.path.join(commits_dir, last))
    crc = os.path.join(commits_dir, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    final2 = run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
    assert final2 == final1
    assert _state(spark, final2) == STATE_AFTER_F1
    assert sorted(os.listdir(dlq)) == files1
    assert _dead_letters(spark, dlq) == DEAD_AFTER_F1


def test_without_dlq_dir_malformed_rows_are_dropped(spark, tmp_path):
    src, work = str(tmp_path / "src"), str(tmp_path / "work")
    _backlog(src, F0, F1)
    final = run_cdc_apply(spark, src, _snapshot(spark), work)
    assert _state(spark, final) == STATE_AFTER_F1
    assert sorted(os.listdir(tmp_path)) == ["src", "work"]


class _StreamCounter(StreamingQueryListener):
    def __init__(self):
        self.lock = threading.Lock()
        self.started, self.terminated, self.batches = [], [], []

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        with self.lock:
            self.batches.append((str(event.progress.runId), event.progress.batchId))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.append(str(event.runId))


def test_replay_with_dlq_is_one_stream_of_one_batch_per_file(spark, tmp_path):
    """Work budget: a 2-file backlog replayed with a dead-letter dir
    starts exactly one streaming query running exactly 2 micro-batches,
    and leaves no second checkpoint or staging directory behind. A
    change that brings back a separate dead-letter stream fails here
    even when wall-time noise would hide it."""
    src, work, dlq = str(tmp_path / "src"), str(tmp_path / "work"), str(tmp_path / "dlq")
    _backlog(src, F0, F1)
    counter = _StreamCounter()
    spark.streams.addListener(counter)
    try:
        run_cdc_apply(spark, src, _snapshot(spark), work, dlq_dir=dlq)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:  # listener events arrive asynchronously
            with counter.lock:
                if counter.started and set(counter.started) <= set(counter.terminated):
                    break
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(counter)

    assert len(counter.started) == 1
    assert sorted(b for r, b in counter.batches if r == counter.started[0]) == [0, 1]
    assert sorted(os.listdir(work)) == ["_LATEST", "_checkpoint", "v0", "v1", "v_init"]
    assert all(f.startswith(("epoch-0-", "epoch-1-")) for f in os.listdir(dlq))


def test_dlq_dir_with_a_file_sink_log_is_refused(spark, tmp_path):
    """A dead-letter dir written by a streaming file sink carries a
    `_spark_metadata` log; Spark readers would list only the files that
    log names and miss every file run_cdc_apply adds."""
    dlq = tmp_path / "dlq"
    (dlq / "_spark_metadata").mkdir(parents=True)
    with pytest.raises(ValueError, match="file-sink log"):
        run_cdc_apply(spark, str(tmp_path / "src"), _snapshot(spark), str(tmp_path / "work"),
                      dlq_dir=str(dlq))
    assert not (tmp_path / "work").exists()
