"""Seeded inputs and the independent DuckDB folds the gates compare against.

Everything here is plain numpy/pyarrow/DuckDB: the engine under test only
ever sees the files these functions write.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

OPS = np.array(["INSERT", "MODIFY", "REMOVE"])
OP_SHARES = (0.2, 0.7, 0.1)

SNAPSHOT_ARROW = pa.schema(
    [("key", pa.int64()), ("last_seq", pa.int64()), ("payload_value", pa.float64())]
)
BATCH_ARROW = pa.schema(
    [
        ("key", pa.int64()),
        ("seq_no", pa.int64()),
        ("op", pa.string()),
        ("payload_value", pa.float64()),
    ]
)


# a change event without these cannot be applied: it belongs in the DLQ
MALFORMED_SQL = "key IS NULL OR op IS NULL OR seq_no IS NULL"


def _rng(*seed_parts: int) -> np.random.Generator:
    return np.random.default_rng(list(seed_parts))


class ZipfKeys:
    """Zipf(s=1) popularity over `domain` keys, ranks shuffled by seed.

    The domain is larger than the restored snapshot, so INSERTs also
    create keys the snapshot never had."""

    def __init__(self, seed: int, domain: int):
        rng = _rng(seed, 0)
        w = 1.0 / np.arange(1, domain + 1)
        self.cdf = np.cumsum(w / w.sum())
        self.perm = rng.permutation(domain).astype(np.int64)

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.perm[np.minimum(ranks, len(self.perm) - 1)]


def write_snapshot(path: str, seed: int, keys: int) -> None:
    """The restored table: keys 0..keys-1 at last_seq 0."""
    rng = _rng(seed, 1)
    pq.write_table(
        pa.table(
            {
                "key": np.arange(keys, dtype=np.int64),
                "last_seq": np.zeros(keys, dtype=np.int64),
                "payload_value": np.round(rng.normal(100, 30, keys), 2),
            },
            schema=SNAPSHOT_ARROW,
        ),
        path,
    )


# ---------------------------------------------------------------------------
# sink_rw: merge batches with late events across batches
# ---------------------------------------------------------------------------


class SinkStream:
    """Batch r holds the events born in round r that are on time, plus the
    late events born in round r-1.

    Seq numbers are born in order (round r owns seqs r*E+1..(r+1)*E), so a
    late event carries a seq lower than events already committed — the
    reordering the tombstone sinks promise to absorb. A delay of one batch
    keeps the reorder horizon one round behind, so from round 1 on every
    round's compact() has the previous round's tombstones to drop: the
    measured rounds are all in that steady state."""

    MAX_DELAY = 1

    def __init__(self, seed: int, keys: ZipfKeys, events: int, late_share: float):
        self.seed, self.keys, self.events, self.late_share = seed, keys, events, late_share

    def _born(self, r: int) -> tuple[pd.DataFrame, np.ndarray]:
        rng = _rng(self.seed, 3, r)
        n = self.events
        op = rng.choice(OPS, size=n, p=OP_SHARES)
        value = np.round(rng.normal(100, 30, n), 2)
        df = pd.DataFrame(
            {
                "key": self.keys.draw(rng, n),
                "seq_no": np.arange(r * n + 1, (r + 1) * n + 1, dtype=np.int64),
                "op": op,
                "payload_value": np.where(op == "REMOVE", np.nan, value),
            }
        )
        late = rng.random(n) < self.late_share
        delay = np.where(late, rng.integers(1, self.MAX_DELAY + 1, n), 0)
        return df, delay

    def batch(self, r: int) -> pd.DataFrame:
        parts = []
        for d in range(self.MAX_DELAY + 1):
            if r - d < 0:
                continue
            born, delay = self._born(r - d)
            parts.append(born[delay == d])
        return pd.concat(parts, ignore_index=True)

    def horizon(self, r: int) -> int:
        """Lowest seq not yet delivered once batches 0..r are applied:
        no event below it can still arrive, so tombstones below it are
        safe to compact away."""
        lowest = (r + 1) * self.events + 1
        for d in range(1, self.MAX_DELAY + 1):
            if r - d + 1 < 0:
                continue
            born, delay = self._born(r - d + 1)
            pending = born[delay >= d]
            if len(pending):
                lowest = min(lowest, int(pending.seq_no.min()))
        return lowest


def write_batch(path: str, batch: pd.DataFrame) -> int:
    pq.write_table(pa.Table.from_pandas(batch, schema=BATCH_ARROW, preserve_index=False), path)
    return os.path.getsize(path)


def fold_batches(snapshot: str, batch_paths: list[str]) -> pd.DataFrame:
    """Visible state after applying `batch_paths` in any order: the
    per-key max-seq reduction over snapshot rows and batch events.
    Events without a key, op or seq are malformed and change nothing."""
    if not batch_paths:
        return pq.read_table(snapshot).to_pandas()
    files = ", ".join(f"'{p}'" for p in batch_paths)
    return duckdb.sql(
        f"""
        WITH ev AS (
            SELECT key, last_seq AS seq_no, 'INSERT' AS op, payload_value
            FROM read_parquet('{snapshot}')
            UNION ALL
            SELECT key, seq_no, op, payload_value FROM read_parquet([{files}])
            WHERE NOT ({MALFORMED_SQL})
        )
        SELECT key, seq_no AS last_seq, payload_value FROM ev
        QUALIFY row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) = 1
            AND op <> 'REMOVE'
        """
    ).df()


# ---------------------------------------------------------------------------
# replay: the change stream buffered while the restore ran
# ---------------------------------------------------------------------------

BACKLOG_ARROW = pa.schema(
    [
        ("seq_no", pa.int64()),
        ("op", pa.string()),
        ("key", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("payload_value", pa.float64()),
        ("payload_props", pa.string()),
        ("content_hash", pa.string()),
    ]
)


def write_backlog(src: str, seed: int, keys: ZipfKeys, files: int, events: int,
                  malformed_share: float) -> list[str]:
    """`files` parquet change files of `events` events each. Seqs rise
    from file to file (the plain sink's in-order delivery contract) and
    are shuffled inside each file; mtimes rise with the file index, so
    the file source reads the files in that order. About
    `malformed_share` of the events lack their key, op or seq_no."""
    paths = []
    for f in range(files):
        rng = _rng(seed, 5, f)
        n = events
        seq = np.arange(f * n + 1, (f + 1) * n + 1, dtype=np.int64)
        rng.shuffle(seq)
        op = rng.choice(OPS, size=n, p=OP_SHARES)
        key = keys.draw(rng, n)
        value = np.round(rng.normal(100, 30, n), 2)
        bad = rng.random(n) < malformed_share
        which = rng.integers(0, 3, n)
        table = pa.table(
            {
                "seq_no": pa.array(seq, mask=bad & (which == 0)),
                "op": pa.array(op, mask=bad & (which == 1)),
                "key": pa.array(key, mask=bad & (which == 2)),
                "ts": pa.array(np.datetime64("2024-01-01", "us")
                               + seq.astype("timedelta64[ms]")),
                "payload_value": pa.array(value, mask=op == "REMOVE"),
                "payload_props": pa.nulls(n, pa.string()),
                "content_hash": pa.nulls(n, pa.string()),
            },
            schema=BACKLOG_ARROW,
        )
        path = os.path.join(src, f"part-{f:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        paths.append(path)
    return paths


def malformed_rows(paths: list[str]) -> pd.DataFrame:
    """The events of the backlog that belong in the DLQ."""
    files = ", ".join(f"'{p}'" for p in paths)
    return duckdb.sql(
        f"SELECT seq_no, op, key, payload_value FROM read_parquet([{files}]) "
        f"WHERE {MALFORMED_SQL}"
    ).df()


# ---------------------------------------------------------------------------
# gates
# ---------------------------------------------------------------------------


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Exact, order-insensitive equality of (key, last_seq, payload_value)."""
    cols = ["key", "last_seq", "payload_value"]
    if len(got) != len(want):
        return False
    a = got[cols].sort_values("key", kind="mergesort").reset_index(drop=True)
    b = want[cols].sort_values("key", kind="mergesort").reset_index(drop=True)
    if not (a.key.astype("int64").values == b.key.astype("int64").values).all():
        return False
    if not (a.last_seq.astype("int64").values == b.last_seq.astype("int64").values).all():
        return False
    va, vb = a.payload_value.astype("float64").values, b.payload_value.astype("float64").values
    return bool(((va == vb) | (np.isnan(va) & np.isnan(vb))).all())
