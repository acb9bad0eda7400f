"""The workloads: their inputs, their rounds of timed calls, their gates.

A run is set-up (session, inputs, warm-up) followed by rounds. A round is
a fixed piece of work; the run repeats rounds for the measured seconds.
Every call into the engine is one operation: it fails if it throws or a
stream it started terminated with an error. Every gate is one operation
too. Gates run outside the timed spans.
"""

from __future__ import annotations

import os
import shutil
import statistics
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
from dynamodb_pitr_restore_cdc_spark.operators.cdc import visible
from dynamodb_pitr_restore_cdc_spark.registry import all_queries, release_persisted
from dynamodb_pitr_restore_cdc_spark.sources import TABLES
from dynamodb_pitr_restore_cdc_spark.streaming.cdc_stream import run_cdc_apply
from dynamodb_pitr_restore_cdc_spark.streaming.delta_log_sink import DeltaLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.iceberg_log_sink import IcebergLogSink
from dynamodb_pitr_restore_cdc_spark.streaming.sink_format import CompactingSinkFormat
from dynamodb_pitr_restore_cdc_spark.streaming.versioned_sink import VersionedCdcSink
from tests.parity import _normalize, assert_parity, run_oracle


class Ctx:
    """One run: session, tracer, its own work directory, and the tally of
    operations attempted and failed."""

    def __init__(self, spark, tracer, work: str, seed: int, tiny: bool, tamper: str | None = None):
        self.spark, self.tracer, self.work, self.seed, self.tiny = spark, tracer, work, seed, tiny
        self.tamper_mode = tamper
        self.attempted = 0
        self.gates = 0
        self.failures: list[str] = []

    def call(self, name: str, layer: str, fn, **attrs):
        """Run `fn` as one timed operation in a leaf span. Returns the
        span record and fn's result (None if it failed)."""
        self.attempted += 1
        result = None
        with self.tracer.span(name, layer, **attrs) as rec:
            try:
                result = fn()
            except Exception as e:  # noqa: BLE001 — counted, and the run goes on
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
        if "error" in rec or rec["stream_errors"]:
            self.failures.append(f"{name}: {rec.get('error') or rec['stream_errors'][0]}")
        return rec, result

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        self.gates += 1
        if not ok:
            self.failures.append(f"gate: {what}")
        return ok

    def gate(self, what: str, fn) -> bool:
        """An untimed correctness check; a throw is a mismatch."""
        try:
            ok = bool(fn())
        except Exception as e:  # noqa: BLE001
            what = f"{what} ({type(e).__name__}: {str(e)[:200]})"
            ok = False
        return self.check(ok, what)


    def tamper(self, out: pd.DataFrame) -> pd.DataFrame:
        """The self-test's fault injection: one output row dropped, or one
        output value altered, before the gate sees the output."""
        if self.tamper_mode is None or out.empty:
            return out
        if self.tamper_mode == "drop":
            return out.iloc[1:]
        out = out.copy()
        c = out.columns[-1]
        v = out[c].iloc[0]
        out[c] = out[c].astype(object)
        out.iloc[0, out.columns.get_loc(c)] = "altered" if isinstance(v, str) else (
            1 if v is None or v != v else v + 1)
        return out


def noop(df) -> None:
    """Force full execution without collecting, as bench.py does."""
    df.write.format("noop").mode("overwrite").save()


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


# ---------------------------------------------------------------------------


SINKS = {
    "versioned": VersionedCdcSink,
    "delta": DeltaLogSink,
    "iceberg": IcebergLogSink,
}


class SinkRw:
    """The same snapshot and the same merge batches into each of the
    three versioned table formats, with reads and maintenance between
    commits. One round: per sink, commit one batch, read back (time
    travel to the previous round's version, the visible table, the
    changefeed between the two), expire old versions and, where the sink
    compacts, compact below the reorder horizon."""

    name = "sink_rw"
    OWN = ("sink.",)
    KEEP_LAST = 4

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        tiny = ctx.tiny
        self.params = {
            "snapshot_keys": 1_000 if tiny else 10_000,
            "key_domain": 1_200 if tiny else 12_000,
            "events_per_batch": 100 if tiny else 500,
            "late_share": 0.05,
        }
        self.root = os.path.join(ctx.work, "sink")
        self.batch_paths: list[str] = []
        self.user_bytes: list[int] = []
        self.versions: dict[str, dict[int, int]] = {f: {} for f in SINKS}

    def prepare(self) -> None:
        p, ctx = self.params, self.ctx
        os.makedirs(os.path.join(self.root, "batches"))
        self.snapshot = os.path.join(self.root, "snapshot.parquet")
        inputs.write_snapshot(self.snapshot, ctx.seed, p["snapshot_keys"])
        self.stream = inputs.SinkStream(
            ctx.seed, inputs.ZipfKeys(ctx.seed, p["key_domain"]),
            p["events_per_batch"], p["late_share"],
        )
        self.sinks = {
            f: cls(ctx.spark, os.path.join(self.root, f)) for f, cls in SINKS.items()
        }

    def _batch(self, r: int) -> str:
        path = os.path.join(self.root, "batches", f"b{r:05d}.parquet")
        self.user_bytes.append(inputs.write_batch(path, self.stream.batch(r)))
        self.batch_paths.append(path)
        return path

    def warmup(self) -> int:
        """init() each sink, then one round. The first measured round
        can still run slow; a second warm-up round would not fit the time
        budget of a run."""
        ctx = self.ctx
        for f, sink in self.sinks.items():
            ctx.call(f"sink.{f}.init", f"sink.{f}",
                     lambda sink=sink: sink.init(ctx.spark.read.parquet(self.snapshot)))
            self.versions[f][sink.latest_version()] = -1
        self._sink_round(0, self._batch(0))
        return 1

    def _sink_round(self, r: int, batch: str) -> list[dict]:
        ctx, traced = self.ctx, self.ctx.tracer.enabled
        leaves = []
        for f, sink in self.sinks.items():
            v_prev = max(self.versions[f])
            before = _files(sink.path) if traced else None
            rec, _ = ctx.call(f"sink.{f}.apply_batch", f"sink.{f}", lambda sink=sink: sink.apply_batch(
                ctx.spark.read.parquet(batch)), op="apply_batch", fmt=f)
            leaves.append(rec)
            v_now = sink.latest_version()
            self.versions[f][v_now] = r
            if traced:
                after = _files(sink.path)
                new = {p: s for p, s in after.items() if before.get(p) != s}
                data = sum(s for p, s in new.items() if ".parquet" in p)
                rec.update(files=len(new), data_bytes_per_user_byte=data / self.user_bytes[-1],
                           meta_bytes=sum(new.values()) - data)
            for op, fn in (
                ("snapshot", lambda sink=sink: noop(sink.snapshot(v_prev))),
                ("visible", lambda sink=sink: noop(sink.visible())),
                ("changes", lambda sink=sink: noop(sink.changes_between(v_prev, v_now))),
                ("expire", lambda sink=sink: sink.expire_versions(keep_last=self.KEEP_LAST)),
            ):
                leaves.append(ctx.call(f"sink.{f}.{op}", f"sink.{f}", fn, op=op, fmt=f)[0])
            if isinstance(sink, CompactingSinkFormat):
                horizon = self.stream.horizon(r)
                leaves.append(ctx.call(
                    f"sink.{f}.compact", f"sink.{f}",
                    lambda sink=sink: sink.compact(reorder_horizon_seq=horizon),
                    op="compact", fmt=f,
                )[0])
            latest = sink.latest_version()
            self.versions[f][latest] = r
            for v in [v for v in self.versions[f] if v <= latest - self.KEEP_LAST]:
                del self.versions[f][v]
        return leaves

    def round(self, r: int) -> dict:
        batch = self._batch(r)
        with self.ctx.tracer.span(f"round {r}", "round", leaf=False) as rr:
            leaves = self._sink_round(r, batch)
        return {"wall": rr["wall_s"], "leaves": leaves}

    def finish(self, rounds: list[dict]) -> dict:
        """Gates: each sink's visible table and one time-travel read equal
        the DuckDB fold of the matching batch prefix, and the sinks agree."""
        ctx = self.ctx
        cols = ["key", "last_seq", "payload_value"]
        want = inputs.fold_batches(self.snapshot, self.batch_paths)
        seen = {}
        for f, sink in self.sinks.items():
            ctx.gate(f"sink {f}: visible() != fold",
                     lambda sink=sink, f=f: inputs.same_rows(ctx.tamper(
                         seen.setdefault(f, sink.visible().select(*cols).toPandas())), want))
            # the oldest retained version that a round left behind
            v = min(self.versions[f])
            r = self.versions[f][v]
            ctx.gate(f"sink {f}: snapshot({v}) != fold of batches 0..{r}",
                     lambda sink=sink, v=v, r=r: inputs.same_rows(
                         ctx.tamper(visible(sink.snapshot(v)).select(*cols).toPandas()),
                         inputs.fold_batches(self.snapshot, self.batch_paths[: r + 1])))
        got = [seen[f] for f in SINKS if f in seen]
        ctx.check(len(got) == len(SINKS)
                  and all(inputs.same_rows(g, ctx.tamper(got[0])) for g in got[1:]),
                  "sinks disagree on the visible table")
        if not ctx.tracer.enabled:
            return {}
        live = os.path.join(self.root, "live.parquet")
        pq.write_table(pa.Table.from_pandas(want[cols], preserve_index=False), live)
        live_bytes = os.path.getsize(live)
        out = {}
        for f, sink in self.sinks.items():
            mine = [leaf for rd in rounds for leaf in rd["leaves"]
                    if leaf.get("fmt") == f and leaf.get("op") == "apply_batch"]
            out[f"sink.{f}.jobs_per_commit"] = median([c["spark"]["jobs"] for c in mine])
            out[f"sink.{f}.files_per_commit"] = median([c["files"] for c in mine])
            out[f"sink.{f}.data_bytes_per_user_byte"] = median(
                [c["data_bytes_per_user_byte"] for c in mine])
            out[f"sink.{f}.meta_bytes_per_commit"] = median([c["meta_bytes"] for c in mine])
            out[f"sink.{f}.live_bytes_per_user_byte"] = sum(_files(sink.path).values()) / live_bytes
            for op in ("apply_batch", "snapshot", "visible", "changes", "expire", "compact"):
                walls = [leaf["wall_s"] for rd in rounds for leaf in rd["leaves"]
                         if leaf.get("fmt") == f and leaf.get("op") == op]
                if walls:
                    out[f"sink.{f}.{op}_s"] = median(walls)
        return out


# ---------------------------------------------------------------------------

# One member of bench.py's HEADLINE per batch query family, by family.
# The whole headline takes 33 s a warm pass even at sf0.001 (its cost is
# per-query fixed cost, not data), more than a run can afford. The
# streaming family's member, q_stream_foreachbatch_cdc, is a
# run_cdc_apply drill over the fixture; the pass calls run_cdc_apply
# itself instead, on a seeded backlog and with its dead-letter path.
QUERIES = {
    "q_tpch_q3_shipping_priority": "relational",
    "q_cdc_changefeed": "cdc",
    "q_llm_near_dedup": "llm",
}
REPLAY = "replay"


class QueryMix:
    """Registry queries over the fixed fixture, each built by its builder
    and forced by a noop write as bench.py does, plus one replay of a
    seeded change backlog onto a restored snapshot through
    run_cdc_apply with a dead-letter directory. The seed permutes the
    order of each pass (session-shared artifact caches make order
    matter) and fixes the snapshot and backlog."""

    name = "query_mix"
    OWN = ("query.", "replay.")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.fixture = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
        self.params = {
            "snapshot_keys": 2_000 if ctx.tiny else 20_000,
            "key_domain": 2_400 if ctx.tiny else 24_000,
            "files": 2,
            "events_per_file": 500 if ctx.tiny else 5_000,
            "malformed_share": 0.005,
        }
        self.root = os.path.join(ctx.work, "replay")
        self.last = None  # (work dir, dlq dir, final path) of the latest replay
        self.collected: dict[str, pd.DataFrame | None] = {}

    def prepare(self) -> None:
        p, ctx = self.params, self.ctx
        specs = all_queries()
        self.specs = {n: specs[n] for n in QUERIES}
        for t in TABLES:  # first touch of every fixture file
            pq.read_metadata(os.path.join(self.fixture, f"{t}.parquet"))
        self.src = os.path.join(self.root, "backlog")
        os.makedirs(self.src)
        self.snapshot = os.path.join(self.root, "snapshot.parquet")
        inputs.write_snapshot(self.snapshot, ctx.seed, p["snapshot_keys"])
        self.backlog = inputs.write_backlog(
            self.src, ctx.seed, inputs.ZipfKeys(ctx.seed, p["key_domain"]),
            p["files"], p["events_per_file"], p["malformed_share"],
        )
        self.backlog_bytes = sum(_files(self.src).values())

    def _order(self, r: int) -> list[str]:
        members = [*QUERIES, REPLAY]
        return [members[i] for i in np.random.default_rng([self.ctx.seed, 4, r]).permutation(len(members))]

    def _replay(self, r: int) -> dict:
        ctx = self.ctx
        work, dlq = os.path.join(self.root, f"work{r}"), os.path.join(self.root, f"dlq{r}")
        rec, final = ctx.call("streaming.run_cdc_apply", "operators", lambda: run_cdc_apply(
            ctx.spark, self.src, ctx.spark.read.parquet(self.snapshot), work, dlq_dir=dlq),
            op=REPLAY)
        if self.last is not None:
            shutil.rmtree(self.last[0], ignore_errors=True)
            shutil.rmtree(self.last[1], ignore_errors=True)
        self.last = (work, dlq, final)
        if ctx.tracer.enabled:
            written = sum(_files(work).values()) + sum(_files(dlq).values())
            rec.update(bytes_written=written, write_amp=written / self.backlog_bytes,
                       dlq_rows=len(self._dlq_rows(dlq)))
        return rec

    @staticmethod
    def _dlq_rows(dlq: str) -> pd.DataFrame:
        return pq.read_table(dlq, columns=["seq_no", "op", "key", "payload_value"]).to_pandas()

    def _pass(self, r: int, collect: bool = False) -> list[dict]:
        """One pass over the members. With `collect`, each query's result
        is collected for the gates instead of written to noop."""
        ctx = self.ctx
        leaves = []
        for n in self._order(r):
            if n == REPLAY:
                leaves.append(self._replay(r))
                continue
            b, df = ctx.call(f"registry.build {n}", "registry",
                             lambda n=n: self.specs[n].builder(ctx.spark, self.fixture),
                             query=n, phase="build")
            leaves.append(b)
            if df is None:
                continue
            e, out = ctx.call(f"registry.exec {n}", "registry",
                              df.toPandas if collect else lambda df=df: noop(df),
                              query=n, phase="exec")
            leaves.append(e)
            if collect:
                self.collected[n] = out
            release_persisted()
        return leaves

    def warmup(self) -> int:
        """Two passes: after one, the next still runs about 20% slow."""
        self._pass(0, collect=True)
        self._pass(1)
        return 2

    def round(self, r: int) -> dict:
        with self.ctx.tracer.span(f"round {r}", "round", leaf=False) as rr:
            leaves = self._pass(r)
        return {"wall": rr["wall_s"], "leaves": leaves}

    def _gates(self) -> None:
        """Each query's result, collected in the warm-up pass, equals the
        registry's DuckDB oracle over the same fixture; the latest
        replay's final table equals the DuckDB fold of snapshot and
        backlog, and its dead-letter rows are exactly the malformed
        events."""
        ctx = self.ctx
        for n in QUERIES:
            got = self.collected.get(n)
            # assert_parity collects its first argument with toPandas()
            ctx.gate(f"{n} != its DuckDB oracle", lambda n=n, got=got: got is not None and (
                assert_parity(SimpleNamespace(toPandas=lambda: ctx.tamper(got)),
                              run_oracle(self.specs[n].oracle, self.fixture), n) is None))
        work, dlq, final = self.last
        ctx.gate("replay: final table != fold of snapshot and backlog",
                 lambda: final is not None and inputs.same_rows(
                     ctx.tamper(pq.read_table(final).to_pandas()),
                     inputs.fold_batches(self.snapshot, self.backlog)))
        ctx.gate("replay: dead-letter rows != malformed events",
                 lambda: _normalize(ctx.tamper(self._dlq_rows(dlq))).equals(
                     _normalize(inputs.malformed_rows(self.backlog))))

    def finish(self, rounds: list[dict]) -> dict:
        self._gates()
        if not self.ctx.tracer.enabled:
            return {}
        out = {}
        per = {}
        replays = []
        for rd in rounds:
            for leaf in rd["leaves"]:
                if leaf.get("op") == REPLAY:
                    replays.append(leaf)
                else:
                    per.setdefault((leaf["query"], leaf["phase"]), []).append(leaf["wall_s"])
        for fam in QUERIES.values():
            for phase in ("build", "exec"):
                out[f"query.{fam}.{phase}_s"] = sum(
                    median(w) for (n, ph), w in per.items() if ph == phase and QUERIES[n] == fam)
        for n in QUERIES:
            b, e = per.get((n, "build"), []), per.get((n, "exec"), [])
            if b and e:
                out[f"query.{n}_s"] = median([x + y for x, y in zip(b, e)])
        out["replay.apply_s"] = median([rp["wall_s"] for rp in replays])
        for key in ("bytes_written", "write_amp", "dlq_rows"):
            out[f"replay.{key}"] = median([rp[key] for rp in replays])
        return out


WORKLOADS = {w.name: w for w in (SinkRw, QueryMix)}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
