"""The log-table core under the Delta- and Iceberg-shaped sinks.

Both from-scratch lakehouse formats (the Delta-shaped transaction log,
`delta_log_sink.py`, and the Iceberg-shaped metadata tree,
`iceberg_log_sink.py`) are the same table: immutable bucket-partitioned
parquet under attempt-scoped directories, per-file column bounds peeked
from parquet footers, a put-if-absent commit, and the PITR identity
"state at v = base files folded with the pending changelog files live
at v". They differ only in how a commit is RECORDED (NDJSON add/remove
actions vs a metadata file over manifest lists and manifests).

This module holds everything above that layer once: the data-file
physics, the shared COMPACT/SKIP policy, schema evolution, and
``LogTableSink`` — the commit loop, the merge-on-read fold and every
protocol method written against a format-neutral view of the live
files (``LiveFile``). Each format subclasses it and encodes only its
log: how to read a pinned or versioned state into ``LiveFile``s, and
how to publish one commit."""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.cdc import cdc_merge_tombstone, visible
from .versioned_sink import diff_states

STAT_COLS = ("key", "last_seq", "op")
N_BUCKETS_DEFAULT = 32
# Orphan sweep ignores files younger than this (VACUUM's retention
# grace, Iceberg's remove-orphan-files olderThan): an in-flight commit
# attempt writes its data (and manifest) files BEFORE its CAS, so
# without an age floor a concurrent expiry would delete them and the
# attempt, on winning, would publish references to deleted files
# (round-8 review on the Iceberg sink, round-9 on the Delta sink)
ORPHAN_GRACE_DEFAULT_S = 300.0


@dataclass(frozen=True)
class DataFileInfo:
    """Format-neutral facts about one written data file."""

    rel_path: str
    bucket: int
    size_bytes: int
    num_rows: int
    mins: dict
    maxs: dict


def write_bucketed_files(
    bucketed: DataFrame, table_path: str, rel_dir: str
) -> list[DataFileInfo]:
    """Write one commit ATTEMPT's data files (immutable, attempt-scoped
    dir — the caller embeds a uuid so a crashed or race-losing attempt
    can never collide with a retry) and collect their footer-derived
    stats: a driver-side parquet-metadata peek, not a data scan.
    repartition("bucket") puts each bucket in one task, so every
    (bucket, commit) pair yields exactly one file."""
    import pyarrow.parquet as pq

    out = os.path.join(table_path, rel_dir)
    (
        bucketed.repartition("bucket")
        .write.mode("error")
        .partitionBy("bucket")
        .parquet(out)
    )
    infos: list[DataFileInfo] = []
    for bdir in sorted(os.listdir(out)):
        if not bdir.startswith("bucket="):
            continue
        b = int(bdir.split("=", 1)[1])
        for fn in sorted(os.listdir(os.path.join(out, bdir))):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(out, bdir, fn)
            md = pq.ParquetFile(full).metadata
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            mins: dict = {}
            maxs: dict = {}
            for rg in range(md.num_row_groups):
                for col in STAT_COLS:
                    if col not in names:
                        continue
                    st = md.row_group(rg).column(names[col]).statistics
                    if st is None or not st.has_min_max:
                        continue
                    if col in mins:
                        mins[col] = min(mins[col], st.min)
                        maxs[col] = max(maxs[col], st.max)
                    else:
                        mins[col], maxs[col] = st.min, st.max
            infos.append(
                DataFileInfo(
                    rel_path=os.path.join(rel_dir, bdir, fn),
                    bucket=b,
                    size_bytes=os.path.getsize(full),
                    num_rows=md.num_rows,
                    mins=mins,
                    maxs=maxs,
                )
            )
    return infos


def bucket_counters(b: int) -> dict:
    """Zeroed per-bucket maintenance counters (one shape for every
    sink's optimize_plan — the policy is format-independent; only the
    stats EXTRACTION differs per metadata protocol)."""
    return {
        "bucket": b,
        "base_files": 0,
        "base_records": 0,
        "delta_files": 0,
        "delta_records": 0,
        "delta_removes": 0,
        "small_delta_files": 0,
    }


def optimize_decisions(
    spark,
    per_bucket: dict[int, dict],
    min_small_files: int,
    tombstone_pct: int,
    table_rows: list[dict] | None = None,
) -> DataFrame:
    """The shared COMPACT/SKIP policy over per-bucket counters: compact
    when the read-side merge fan-in has grown (≥ min_small_files small
    pending files) or the tombstone debt has (pending REMOVE entries
    exceed tombstone_pct% of the bucket's rows). ONE implementation so
    the Delta and Iceberg twins (and their oracles) can never silently
    diverge on a threshold tweak; integer in, integer out, so the
    decision table is oracle-expressible.

    ``table_rows``: TABLE-scoped maintenance decisions (decision
    preset by the caller — e.g. the Iceberg sink's manifest REPACK
    pricing) appended after the per-bucket rows under the same schema;
    per-bucket thresholds never apply to them."""
    import pandas as pd

    rows = []
    for d in sorted(per_bucket.values(), key=lambda r: r["bucket"]):
        compact = d["small_delta_files"] >= min_small_files or (
            100 * d["delta_removes"]
            > tombstone_pct * (d["base_records"] + d["delta_records"])
        )
        rows.append({**d, "decision": "COMPACT" if compact else "SKIP"})
    rows.extend(table_rows or [])
    cols = [
        "bucket", "base_files", "base_records", "delta_files",
        "delta_records", "delta_removes", "small_delta_files", "decision",
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols),
        schema=(
            "bucket long, base_files long, base_records long, "
            "delta_files long, delta_records long, delta_removes long, "
            "small_delta_files long, decision string"
        ),
    )


def read_with_schema(spark, schema_json: str, paths: list[str]) -> DataFrame:
    """Parquet read under an explicit table schema (matched by name):
    files written before an add-column evolution lack the new columns
    and read back as nulls — the schema-on-read half of evolution, ONE
    implementation for both table formats (their read paths must never
    drift on this)."""
    schema = StructType.fromJson(json.loads(schema_json))
    return spark.read.schema(schema).parquet(*paths)


def empty_frame(spark, schema_json: str) -> DataFrame:
    """Zero-row frame in the table schema: typed null casts behind
    WHERE FALSE fold to a LocalRelation — zero Spark jobs (the
    createDataFrame([], schema) trap, CLAUDE.md)."""
    schema = StructType.fromJson(json.loads(schema_json))
    cols = [F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    return spark.range(1).select(*cols).where(F.lit(False))


# -- schema evolution (shared by both table-format sinks) --------------------

# columns owned by the sink protocols, never payload: the batch's
# ordering column, the table's folded form of it, the op marker and the
# physical partition column
PROTOCOL_COLS = frozenset({"seq_no", "last_seq", "op", "bucket"})


def evolve_schema_json(
    schema_json: str, batch_schema: StructType, key: str
) -> tuple[str, bool]:
    """Union-by-name widened table schema: batch payload columns absent
    from the table schema are APPENDED as nullable fields (add-column
    is the only evolution shape supported — the reference's payload is
    schemaless, `lambda-backfill/main.py:35-39` passes NewImage
    opaquely, so mid-stream attribute ADDS are the user path; renames/
    drops/retypes are rejected loudly). Returns (new_json, changed).

    A type CONFLICT on an existing payload column is an error, not an
    evolution: silently casting would corrupt rows written under the
    old type."""
    from pyspark.sql.types import StructField

    old = StructType.fromJson(json.loads(schema_json))
    have = {f.name: f for f in old.fields}
    added: list[StructField] = []
    for f in batch_schema.fields:
        if f.name == key or f.name in PROTOCOL_COLS:
            continue
        if f.name in have:
            # simpleString: nullability-insensitive comparison — a
            # lit(None).cast("array<long>") batch column differs from
            # the stored ArrayType only in containsNull, which is not
            # a type CONFLICT
            if have[f.name].dataType.simpleString() != f.dataType.simpleString():
                raise ValueError(
                    f"schema conflict on column {f.name!r}: table has "
                    f"{have[f.name].dataType.simpleString()}, batch has "
                    f"{f.dataType.simpleString()} (add-column is the only "
                    f"supported evolution)"
                )
            continue
        added.append(StructField(f.name, f.dataType, nullable=True))
    if not added:
        return schema_json, False
    return StructType(old.fields + added).json(), True


def payload_cols_of(schema_json: str, key: str) -> tuple[str, ...]:
    """Payload columns of a table schema: everything that isn't the
    merge key or a protocol column, in schema order (the one list both
    the merge and the read-side fold must agree on)."""
    schema = StructType.fromJson(json.loads(schema_json))
    return tuple(
        f.name
        for f in schema.fields
        if f.name != key and f.name not in PROTOCOL_COLS
    )


def align_to_payloads(df: DataFrame, schema_json: str, key: str) -> DataFrame:
    """Null-fill a batch to the table's payload column set: columns the
    batch lacks become typed nulls, so a NARROW batch arriving after an
    evolution merges cleanly (and, per full-image semantics, a winning
    narrow row REPLACES the wide row — the missing attribute reads back
    null, exactly what a full-image put of the narrow item means)."""
    schema = StructType.fromJson(json.loads(schema_json))
    have = set(df.columns)
    missing = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in schema.fields
        if f.name not in have and f.name != key and f.name not in PROTOCOL_COLS
    ]
    return df.select("*", *missing) if missing else df


# -- the log-table core ---------------------------------------------------------


@dataclass(frozen=True)
class LiveFile:
    """Format-neutral view of one live data file: what every shared path
    reads (pruning, folding, compaction candidates, maintenance
    counters)."""

    path: str  # relative to the table root
    bucket: int
    pending: bool  # merge-on-read file awaiting compact_mor
    records: int
    lower: dict
    upper: dict
    removes: int  # REMOVE rows it carries (tombstone debt)


@dataclass
class TableState:
    """A table state as the shared core sees it. For a commit attempt
    ``slot`` is the pinned put-if-absent slot, ``seq`` the version the
    commit publishes (its data files are named for it) and ``base`` the
    format's own record of the state the commit is built on."""

    schema: str
    key: str
    files: list[LiveFile]
    slot: int = 0
    seq: int = 0
    base: object = field(default=None, repr=False)


class LogTableSink:
    """VersionedSinkFormat + CompactingSinkFormat over a log-structured
    table of immutable bucket files. Subclasses encode the log:

    - ``_pin()`` — the next put-if-absent slot;
    - ``_pinned(slot, buckets)`` — the state a commit at ``slot`` builds
      on (``slot=None``: the current state), files pruned to
      ``buckets``;
    - ``_versions(*versions)`` — read states at versions, resolved
      under one consistent view of the log;
    - ``_publish(state, op, removed, added, schema)`` — one commit
      (``FileExistsError`` = lost the race);
    - ``_create``, ``_file_record``, ``_write_pending``,
      ``_persisted_transform`` and ``latest_version``.

    ``_VANISHED`` names the errors a read raises when a racing expiry
    removed the pinned base under it; ``_no_table`` tells a never-
    created table (a user error) apart from such a race."""

    _LOG_DIR: str
    _DATA_DIR: str
    _DATA_PREFIX: str
    _VANISHED: tuple[type[Exception], ...]
    _APPEND_RESOLVE: str  # what append's pre-write read reports failing
    _EMPTY_APPEND_COMMITS: bool

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = N_BUCKETS_DEFAULT,
        transform: str = "bucket",
    ):
        """`transform` picks the partition transform, Iceberg-spec
        style: "bucket" (hash-mod, default) or "mod" (identity-mod —
        reproducible by external engines; the optimize-plan oracle uses
        key % N). Only init CONSUMES these arguments: an existing
        table's transform (and width) is read back from its persisted
        log, so a fresh handle can never mis-bucket a table created
        with different parameters (round-9 review — the mergeKey
        persistence rule applied to the layout)."""
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self._transform_arg = transform
        self._transform_cached: tuple[str, int] | None = None
        os.makedirs(self._log_dir(), exist_ok=True)

    # -- durable log writes -------------------------------------------------

    def _log_dir(self) -> str:
        return os.path.join(self.path, self._LOG_DIR)

    @staticmethod
    def _write_synced(path: str, text: str) -> None:
        with open(path, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())  # a log object whose data blocks never
            # hit disk would corrupt the log once published

    def _link_publish(self, target: str, text: str) -> None:
        """Put-if-absent publication — the commit: temp write + fsync +
        hard link into the slot (EEXIST = another writer won), then drop
        the temp name."""
        tmp = os.path.join(os.path.dirname(target), f".tmp-{uuid.uuid4().hex[:12]}")
        self._write_synced(tmp, text)
        try:
            os.link(tmp, target)
        finally:
            os.remove(tmp)

    def _replace_synced(self, path: str, text: str) -> None:
        """Torn-read-safe overwrite: tmp + fsync + atomic rename. The tmp
        name is attempt-scoped: two writers sharing one would race the
        final os.replace and the loser would crash on its consumed tmp
        (reproduced by the threaded race suite). Crash debris
        (``<name>.tmp-<uuid>``) is left to the orphan sweep."""
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        self._write_synced(tmp, text)
        os.replace(tmp, path)

    # -- reads under a racing expiry ---------------------------------------

    def _retry_read(self, read, what: str, attempts: int = 5):
        """read() retried while a racing expiry removes its base (a lost
        race, never an error). A table that does not exist yet raises at
        once: burning the retries would misreport a user error as a
        race. A PERSISTENT failure (e.g. a lost checkpoint) retries
        instantly and lands in the chained RuntimeError, so the cause
        never reads as a concurrency race (round-9 review)."""
        last: Exception | None = None
        for _ in range(attempts):
            try:
                return read()
            except self._VANISHED as e:
                if self._no_table(e):
                    raise
                last = e
        raise RuntimeError(f"{what} failed {attempts} times at {self.path}") from last

    # -- data plumbing -----------------------------------------------------

    def _transform(self) -> tuple[str, int]:
        """(name, N) of the table's partition transform — persisted
        value first (a fresh handle must follow the TABLE's layout, not
        its constructor defaults), constructor fallback only before the
        table exists (init) or for pre-transform tables. A transient
        read failure retries: falling back there would silently
        mis-bucket, the very defect this method exists to close."""
        if self._transform_cached is not None:
            return self._transform_cached
        fallback = (self._transform_arg, self.n_buckets)
        try:
            persisted = self._retry_read(
                self._persisted_transform, "transform resolution"
            )
        except ValueError as e:
            if not self._no_table(e):
                raise
            return fallback  # no table yet: init is writing it — don't
            # cache, so post-init reads re-resolve
        m = re.fullmatch(r"(bucket|mod)\[(\d+)\]", persisted)
        self._transform_cached = (m.group(1), int(m.group(2))) if m else fallback
        return self._transform_cached

    def _bucket(self, key_col):
        name, n = self._transform()
        hashed = key_col if name == "mod" else F.hash(key_col)
        return F.pmod(hashed, F.lit(n)).alias("bucket")

    def _write_data(self, bucketed: DataFrame, seq: int) -> list[dict]:
        """Write one commit ATTEMPT's data files (immutable attempt-
        scoped dir, so the put-if-absent commit stays the one true
        arbiter and a crashed or race-losing attempt's files are debris
        the orphan sweep reclaims) and shape the per-file facts into
        the format's file records."""
        rel_dir = os.path.join(
            self._DATA_DIR, f"{self._DATA_PREFIX}{seq:06d}-{uuid.uuid4().hex[:8]}"
        )
        return [
            self._file_record(i)
            for i in write_bucketed_files(bucketed, self.path, rel_dir)
        ]

    def _read(self, files: list[LiveFile], schema_json: str) -> DataFrame:
        if not files:
            return empty_frame(self.spark, schema_json)
        paths = sorted(f.path for f in files)
        return read_with_schema(
            self.spark, schema_json, [os.path.join(self.path, p) for p in paths]
        )

    def _fold(
        self, files: list[LiveFile], schema_json: str, key: str
    ) -> DataFrame:
        """Tombstoned state of a set of live files, folding pending
        merge-on-read files (appended changelog entries, equality
        deletes) over the base files at read time. EVERY read path goes
        through here, or pending files resurrect keys and duplicate rows
        (round-7 review). With nothing pending this is a plain read —
        zero overhead for copy-on-write tables. The per-key max-seq
        reduction is associative/commutative, so folding ALL pending
        entries in one merge ≡ applying their commits one by one
        (tests/test_cdc_property.py). ``key`` is the caller's or the
        table's persisted merge key — never assume the default on a read
        path. Payload columns come from the SCHEMA, so files written
        before an add-column evolution null-fill (schema-on-read)."""
        base = [f for f in files if not f.pending]
        pending = [f for f in files if f.pending]
        cur = self._read(base, schema_json)
        if not pending:
            return cur
        entries = self._read(pending, schema_json).withColumnRenamed(
            "last_seq", "seq_no"
        )
        return cdc_merge_tombstone(
            cur, entries, key=key, payload_cols=payload_cols_of(schema_json, key)
        )

    # -- the commit loop ---------------------------------------------------

    def _commit_loop(
        self, what: str, op: str, max_attempts: int, attempt, buckets=None
    ) -> None:
        """Optimistic concurrency for every writer. The slot is pinned
        BEFORE the state read: a commit landing anywhere after the pin
        (including during an attempt's own Spark jobs) claims the slot
        and forces EEXIST — pinning after the read would let it slip
        past the retry and publish a stale remove set (duplicated or
        resurrected rows). A pinned base that vanishes under the read
        (a racing expiry) is a lost race too: re-pin and retry.

        ``attempt(state)`` returns (removed, added, evolved_schema) or
        None when there is nothing to commit; it reruns in full against
        the winner's state after a lost race."""
        for _ in range(max_attempts):
            slot = self._pin()
            try:
                state = self._pinned(slot, buckets)
            except self._VANISHED:
                continue
            change = attempt(state)
            if change is None:
                return
            try:
                self._publish(state, op, *change)
                return
            except FileExistsError:
                continue
        raise RuntimeError(
            f"{what} lost the commit race {max_attempts} times at {self.path}"
        )

    # -- SinkFormat --------------------------------------------------------

    def init(self, snapshot: DataFrame, key: str = "key") -> None:
        snap = snapshot
        if "op" not in snap.columns:
            snap = snap.withColumn("op", F.lit("INSERT"))
        files = self._write_data(snap.withColumn("bucket", self._bucket(F.col(key))), 1)
        self._create(
            snap.schema.json(), key, f"{self._transform_arg}[{self.n_buckets}]", files
        )

    def apply_batch(
        self, batch: DataFrame, key: str = "key", max_attempts: int = 5
    ) -> None:
        """MERGE INTO: resolve the batch against ONLY the files of the
        buckets it touches (pruned from file metadata, zero data reads),
        write replacement files, publish removes + adds in one commit.
        On a lost race the whole merge recomputes against the winner's
        state — the winner may have replaced the very files our
        candidate set named, so committing the stale remove set would
        resurrect its rows as duplicates."""
        batch = batch.withColumn("bucket", self._bucket(F.col(key)))
        touched = {
            r.bucket for r in batch.select("bucket").distinct().collect()
        }  # ≤ N ints: orchestration, not data

        def attempt(state: TableState):
            # add-column schema evolution (union-by-name) in the SAME
            # commit, evolved inside the retry loop so a racing
            # writer's own evolution is unioned on recompute, never
            # overwritten
            schema_json, evolved = evolve_schema_json(state.schema, batch.schema, key)
            # a fold, not a raw read: a touched bucket may carry pending
            # merge-on-read files, which this commit retires by folding
            # them into the rewritten base files
            current = self._fold(state.files, schema_json, key)
            merged = cdc_merge_tombstone(
                current,
                align_to_payloads(batch.drop("bucket"), schema_json, key),
                key=key,
                payload_cols=payload_cols_of(schema_json, key),
            )
            added = self._write_data(
                merged.withColumn("bucket", self._bucket(F.col(key))), state.seq
            )
            return state.files, added, schema_json if evolved else None

        self._commit_loop("MERGE", "merge", max_attempts, attempt, buckets=touched)

    def snapshot(self, version: int | None = None) -> DataFrame:
        """Tombstoned state at a version — time travel. Pending merge-
        on-read files are folded here too: snapshot() is the STATE
        contract (one row per key, tombstones as rows), whatever the
        physical layout — visible(snapshot(v)) must never show duplicate
        or resurrected keys (round-7 review)."""
        (state,) = self._versions(version)
        return self._fold(state.files, state.schema, state.key)

    def visible(self) -> DataFrame:
        return visible(self.snapshot())

    # -- CompactingSinkFormat ----------------------------------------------

    def compact(self, reorder_horizon_seq: int, max_attempts: int = 5) -> None:
        """OPTIMIZE / rewriteDataFiles: rewrite files that may hold
        settled tombstones (op='REMOVE' below the reorder horizon),
        dropping them. Candidates come from file BOUNDS only — a file
        whose op range excludes 'REMOVE' or whose min last_seq is above
        the horizon is provably clean and is never opened."""

        def attempt(state: TableState):
            mor_buckets = {f.bucket for f in state.files if f.pending}

            def may_hold_settled(f: LiveFile) -> bool:
                if f.pending:
                    # a REMOVE row in a pending file is a changelog ENTRY
                    # (or an equality delete), not a folded tombstone:
                    # dropping it would resurrect the key's older base
                    # row. compact_mor folds pending files into base,
                    # after which the tombstone is reachable here.
                    return False
                if f.bucket in mor_buckets:
                    # the whole BUCKET is ineligible while pending files
                    # exist: a pending entry may sit BELOW a settled base
                    # tombstone's seq (stale entries are supported), and
                    # dropping that tombstone would hand the read-time
                    # fold to the stale entry — a silently resurrected
                    # key across a no-data-change commit (round-8
                    # review). compact_mor folds first; the bucket then
                    # re-qualifies.
                    return False
                if "op" not in f.lower:
                    return True  # no stats: conservative
                if not (f.lower["op"] <= "REMOVE" <= f.upper["op"]):
                    return False
                ls_min = f.lower.get("last_seq")
                return ls_min is None or ls_min < reorder_horizon_seq

            cand = [f for f in state.files if may_hold_settled(f)]
            if not cand:
                return None
            cur = self._read(cand, state.schema)
            settled = (F.col("op") == "REMOVE") & (
                F.col("last_seq") < reorder_horizon_seq
            )
            # bounds admit false positives (a post-merge file mixing old
            # live rows with a FRESH tombstone passes may_hold_settled
            # forever) — without this exact check, periodic OPTIMIZE
            # would rewrite such buckets and grow the log unboundedly
            if cur.where(settled).limit(1).count() == 0:
                return None
            added = self._write_data(
                cur.where(~settled).withColumn("bucket", self._bucket(F.col(state.key))),
                state.seq,
            )
            return cand, added, None

        self._commit_loop("OPTIMIZE", "rewrite", max_attempts, attempt)

    # -- merge-on-read ingest lane -----------------------------------------

    def append(
        self, batch: DataFrame, key: str | None = None, max_attempts: int = 5
    ) -> None:
        """Blind-append ingest: the batch's changelog entries (key,
        seq_no, op, payload) land as immutable pending files in one
        always-compatible commit with NO data reads and NO removed
        files — O(batch) regardless of table size. Appends never
        conflict semantically, so a lost race republishes the same data
        files against the winner's state. ``key`` defaults to the
        table's persisted merge key — the hardcoded-default defect class
        the round-8 review flagged."""
        head = self._retry_read(
            lambda: self._pinned(None, set()), self._APPEND_RESOLVE, max_attempts
        )
        key = key or head.key
        # add-column schema evolution, same union-by-name rule as
        # apply_batch. Schemas only ever WIDEN, so a batch whose columns
        # fit the pinned schema fits every later schema too — only an
        # evolving batch re-checks on a lost race
        _, evolved = evolve_schema_json(head.schema, batch.schema, key)
        rows = batch.select(
            F.col(key),
            F.col("seq_no").alias("last_seq"),
            *[F.col(c) for c in payload_cols_of(batch.schema.json(), key)],
            F.col("op"),
        ).withColumn("bucket", self._bucket(F.col(key)))
        added = self._write_pending(rows, key, head.seq)
        if not added and not self._EMPTY_APPEND_COMMITS:
            return  # empty batch: no pointless commit

        def attempt(state: TableState):
            schema_json = None
            if evolved:
                # re-union against the CURRENT schema each attempt: a
                # racing writer may have evolved too, and publishing our
                # stale union would silently drop its added columns
                merged, still_new = evolve_schema_json(state.schema, batch.schema, key)
                schema_json = merged if still_new else None
            return [], added, schema_json

        self._commit_loop("WRITE", "append", max_attempts, attempt, buckets=set())

    def optimize_plan(
        self,
        small_file_rows: int,
        min_small_files: int,
        tombstone_pct: int,
    ) -> DataFrame:
        """Maintenance policy: per bucket, decide COMPACT or SKIP from
        file metadata alone (the same stats the pruning uses — zero data
        reads, O(files) driver work). COMPACT when the read-side merge
        fan-in has grown (≥ min_small_files pending files under
        small_file_rows rows) or the tombstone debt has (pending REMOVE
        entries exceed tombstone_pct% of the bucket's rows). Inputs and
        outputs are integers, so the decision is oracle-expressible.
        A format may add TABLE-scoped rows (``_table_rows``).

        This is the data-driven form of the reference's operational
        constants (batch size 25 `lambda-backfill/main.py:22`,
        maxReceiveCount 5 `cdk-stack.ts:52-63`): thresholds turned into
        per-bucket decisions off observed stats."""

        def read():
            state = self._pinned(None)
            return state, self._table_rows(state)

        state, table_rows = self._retry_read(read, "optimize_plan")
        per_bucket: dict[int, dict] = {}
        for f in state.files:
            d = per_bucket.setdefault(f.bucket, bucket_counters(f.bucket))
            if f.pending:
                d["delta_files"] += 1
                d["delta_records"] += f.records
                d["delta_removes"] += f.removes
                if f.records < small_file_rows:
                    d["small_delta_files"] += 1
            else:
                d["base_files"] += 1
                d["base_records"] += f.records
        return optimize_decisions(
            self.spark, per_bucket, min_small_files, tombstone_pct,
            table_rows=table_rows,
        )

    def _table_rows(self, state: TableState) -> list[dict]:
        return []

    def compact_mor(
        self, buckets: set[int], key: str | None = None, max_attempts: int = 5
    ) -> None:
        """Execute an optimize_plan decision: fold the selected buckets'
        pending files into rewritten base files in one commit. Folded
        REMOVE entries become base tombstones, which the settled-
        tombstone compact() reclaims once the reorder horizon passes.
        ``key`` defaults to the table's persisted merge key."""

        def attempt(state: TableState):
            if not any(f.pending for f in state.files):
                return None  # nothing pending: no no-op commit
            k = key or state.key
            folded = self._fold(state.files, state.schema, k)
            added = self._write_data(
                folded.withColumn("bucket", self._bucket(F.col(k))), state.seq
            )
            return state.files, added, None

        self._commit_loop(
            "MOR OPTIMIZE", "rewrite", max_attempts, attempt, buckets=buckets
        )

    # -- VersionedSinkFormat -----------------------------------------------

    def changes_between(self, v_from: int, v_to: int) -> DataFrame:
        """Changefeed: a bucket whose FILE SET is identical at both
        versions is provably unchanged (immutable files) and is never
        read; only differing buckets are folded from each side, then
        `diff_states` classifies INSERT/UPDATE/DELETE. BOTH sides fold
        under the TO schema (schemas only widen, so it covers the FROM
        side; pre-evolution files null-fill) and the feed carries every
        TO-side payload column — a consumer mirroring through the feed
        must converge to visible(), new columns included (round-10
        review)."""
        s_from, s_to = self._versions(v_from, v_to)
        schema, key = s_to.schema, s_to.key

        def by_bucket(files: list[LiveFile]) -> dict[int, set[str]]:
            out: dict[int, set[str]] = {}
            for f in files:
                out.setdefault(f.bucket, set()).add(f.path)
            return out

        bb_from, bb_to = by_bucket(s_from.files), by_bucket(s_to.files)
        changed = {
            b
            for b in set(bb_from) | set(bb_to)
            if bb_from.get(b, set()) != bb_to.get(b, set())
        }
        a = visible(
            self._fold([f for f in s_from.files if f.bucket in changed], schema, key)
        )
        b = visible(
            self._fold([f for f in s_to.files if f.bucket in changed], schema, key)
        )
        return diff_states(a, b, payload_cols=payload_cols_of(schema, key), key=key)

    # -- retention ---------------------------------------------------------

    def _reclaim_dead(
        self, dead: set[str], died_ms: dict[str, int], grace_s: float
    ) -> None:
        """Delete files no retained version references, once their DEATH
        (the commit that stopped referencing them) aged past the grace:
        a long-running reader that pinned a recently superseded version
        may still be scanning them (round-9 review). mtime is useless
        here — the file was WRITTEN long ago; what must age is its
        tombstoning. A spared file's death stamp dies with the log this
        same expiry truncates, so sparing also TOUCHES the file: the
        later orphan sweep's mtime grace then restarts from the sparing
        moment instead of the long-past write."""
        cutoff_ms = (time.time() - grace_s) * 1000
        for rel in sorted(dead):
            full = os.path.join(self.path, rel)
            if died_ms.get(rel, 0) > cutoff_ms:  # no stamp (legacy): aged
                try:
                    os.utime(full)
                except FileNotFoundError:
                    pass  # vanished: nothing to spare
                # any other failure propagates: silently keeping the
                # ancient write-mtime would arm the NEXT sweep to
                # reclaim this file inside its tombstone grace
                continue
            if os.path.exists(full):
                os.remove(full)

    def _sweep_orphans(
        self, keep_files: set[str], grace_s: float, is_log_debris
    ) -> None:
        """Reclaim UNREFERENCED data files and log-directory debris older
        than the grace (mtime). A racing writer's pre-CAS attempt files
        look exactly like crash debris until its commit lands, so age is
        the only safe discriminator; pass 0 only when no writer can be
        concurrent (tests, single-writer drills)."""
        cutoff = time.time() - grace_s

        def aged_out(full: str) -> bool:
            try:
                return os.path.getmtime(full) <= cutoff
            except OSError:
                return False  # vanished mid-sweep: nothing to do

        for dirpath, _dirs, files in os.walk(os.path.join(self.path, self._DATA_DIR)):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.path)
                if fn.endswith(".parquet") and rel not in keep_files and aged_out(full):
                    os.remove(full)
        for fn in os.listdir(self._log_dir()):
            full = os.path.join(self._log_dir(), fn)
            if is_log_debris(fn) and aged_out(full):
                os.remove(full)


# -- the drill both log formats pass ------------------------------------------

LOG_FOLD_ORACLE = """
SELECT key, seq_no AS last_seq, payload_value
FROM (
    SELECT key, seq_no, op, payload_value,
           row_number() OVER (PARTITION BY key ORDER BY seq_no DESC) AS rn
    FROM changelog
) WHERE rn = 1 AND op <> 'REMOVE'
"""


def _log_fold_drill(
    spark, sf_dir: str, sink_cls, merge_on_read: bool = False
) -> DataFrame:
    """A log format end to end under one oracle hash: init = fold of
    the changelog's first third, two ingest commits — bucket-pruned
    MERGEs, or with ``merge_on_read`` blind appends followed by a
    compact_mor over HALF the buckets — a settled-tombstone compaction
    past the full reorder horizon (which must SKIP still-pending
    buckets: the round-8 resurrection guard), then retention to the last
    two versions (log truncation + data GC with orphan sweep). What
    survives all maintenance must still equal the plain changelog fold,
    whichever lane each row travelled — the PITR identity
    (`state-machine.json` restore path)."""
    import shutil
    import tempfile

    from ..operators.cdc import changelog, fold_changelog
    from ..registry import tracked_persist

    cl = changelog(spark, sf_dir).select("seq_no", "op", "key", "payload_value")
    max_seq = cl.agg(F.max("seq_no")).first()[0]  # orchestration scalar
    c1, c2 = max_seq // 3, (2 * max_seq) // 3
    base = tempfile.mkdtemp(prefix=f"{sink_cls.__name__.lower()}-fold-")
    try:
        sink = sink_cls(spark, os.path.join(base, "t"))
        ingest = sink.append if merge_on_read else sink.apply_batch
        # NO width pin: the MERGE/compact_mor commits and the compact
        # rewrite are real per-bucket merges over the full table —
        # compute-bound (r16 idle-32 A/B, pinned vs session width:
        # Delta 8.90 s vs 4.04 s, Iceberg 9.39 s vs 4.57 s, Iceberg
        # merge-on-read 22.59 s vs 7.12 s)
        sink.init(fold_changelog(cl.where(F.col("seq_no") <= c1)))
        ingest(cl.where((F.col("seq_no") > c1) & (F.col("seq_no") <= c2)))
        ingest(cl.where(F.col("seq_no") > c2))
        if merge_on_read:
            sink.compact_mor(set(range(sink.n_buckets // 2)))
        sink.compact(reorder_horizon_seq=int(max_seq) + 1)
        # grace 0 is safe here: this builder is the table's only writer
        sink.expire_versions(keep_last=2, sweep_orphans=True, orphan_grace_s=0.0)
        result = tracked_persist(
            sink.visible().select("key", "last_seq", "payload_value")
        )
        result.count()  # materialize before the backing dirs go away
        return result
    finally:
        shutil.rmtree(base, ignore_errors=True)
