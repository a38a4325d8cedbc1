"""The benchmark's workloads. Each one is a closed loop with one client: the
next op starts only after the previous one has finished and been checked.

- ``interactive_sf0.01``: a pinned mix of registry queries over the
  committed sf0.01 tables. An op is one query, built by its registry
  function and collected to the driver. The seed permutes the order within
  each pass.
- ``stream_timeout``: ``streaming.trips.airport_trips_stream_timeout``
  replayed over the sf0.01 events, staged as a time-ordered, mtime-ordered
  many-file split and read one file per trigger. An op is one micro-batch;
  a pass is one full replay.

Every output is checked: query outputs against the newest committed gate
log for their scale, stream outputs against the batch parity replay.
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from harness import StateRoot
from tracing import (
    JobGroups,
    LayerTimer,
    cached_bytes,
    executed_plan_seconds,
    group_id,
    op_layers,
    replay_layers,
)

OP_TIMEOUT_S = 60.0

# The interactive mix, pinned by name: Exercise 1, Exercise 2 (the parity
# state machine and the daily airport revenue), a multi-way join, an as-of
# join, text scoring and JPEG decode on Python workers. An odd number of
# ops with well-separated latencies keeps the median sample inside one
# op's samples instead of in the gap between two.
INTERACTIVE_OPS = [
    "trip_length_histogram",
    "airport_trips_parity",
    "daily_revenue",
    "revenue_by_nation",
    "purchase_asof_view",
    "text_quality_score",
    "multimodal_real_jpeg_color",
]

STREAM_FILES = 4


@dataclass
class OpRecord:
    op: str
    pass_no: int
    ok: bool
    latency_s: float
    error: str | None = None
    layers: dict = field(default_factory=dict)


@dataclass
class PassResult:
    pass_no: int
    # Engine time of the pass: the sum of its op latencies, or for a stream
    # the replay from start to termination; checks are not included.
    wall_s: float
    records: list[OpRecord]
    layers: dict = field(default_factory=dict)

    @property
    def samples(self) -> list[float]:
        """Latency of every op of the pass that succeeded, in seconds."""
        return [r.latency_s for r in self.records if r.ok]


def _describe(exc: BaseException) -> str:
    traceback.print_exception(exc, file=sys.stderr)
    return f"{type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"


class Interactive:
    name = "interactive_sf0.01"
    scale = "sf0.01"
    tables = None  # every table in the data dir
    # The driver-side Catalyst code keeps getting faster for several passes.
    warmup_passes = 3

    def __init__(self, data_dir: str, gate: dict, seed: int) -> None:
        self.data_dir = data_dir
        self.gate = gate
        self.rng = random.Random(seed)

    def stage(self, spark, state: StateRoot) -> None:
        """Nothing to derive: the mix reads the committed tables in place."""

    def prepare(self, spark, state: StateRoot) -> None:
        self.spark = spark
        self.groups = JobGroups(spark)

    def check(self, name: str, pdf) -> str | None:
        from tools.check_oracle import value_hash

        want = self.gate.get(name)
        if want is None:
            return f"{name}: no gate hash"
        got = (len(pdf), value_hash(pdf))
        if got != want:
            return f"{name}: rows={got[0]} hash={got[1]}, gate rows={want[0]} hash={want[1]}"
        return None

    def run_op(self, op: str, pass_no: int, timer: LayerTimer | None) -> OpRecord:
        from mapreduce_hadoop_spark import registry
        from mapreduce_hadoop_spark.operators import dedup, similarity

        spark, groups = self.spark, self.groups
        phases = {p: group_id(pass_no, op, p) for p in ("load", "build", "plan", "exec")}
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            for g in phases.values():
                spark.sparkContext.cancelJobGroup(g)

        watchdog = threading.Timer(OP_TIMEOUT_S, cancel)
        layers: dict = {"groups": phases}
        t0 = time.perf_counter()
        watchdog.start()
        try:
            groups.set(phases["build"])
            df = registry.queries()[op](spark, self.data_dir)
            t1 = time.perf_counter()
            if timer is not None:
                groups.set(phases["plan"])
                layers["operators.plan_s"] = executed_plan_seconds(df)
            t2 = time.perf_counter()
            groups.set(phases["exec"])
            pdf = df.toPandas()
            t3 = time.perf_counter()
            if timer is not None:
                layers["operators.cached_bytes"] = cached_bytes(spark)
        except Exception as exc:  # op boundary: record, count, continue
            latency = time.perf_counter() - t0
            error = "timeout" if fired.is_set() else _describe(exc)
            return OpRecord(op, pass_no, False, latency, error, layers)
        finally:
            watchdog.cancel()
            groups.clear()
            spark.catalog.clearCache()
            dedup.unpersist_intermediates()
            similarity.unpersist_intermediates()
            if timer is not None:
                layers["sources.load_table_calls"], layers["sources.load_table_s"] = timer.take()
        layers["operators.build_s"] = t1 - t0
        layers["operators.exec_s"] = t3 - t2
        layers["rows_out"] = len(pdf)
        error = self.check(op, pdf)
        return OpRecord(op, pass_no, error is None, t3 - t0, error, layers)

    def run_pass(self, pass_no: int, timer: LayerTimer | None = None) -> PassResult:
        order = self.rng.sample(INTERACTIVE_OPS, len(INTERACTIVE_OPS))
        records = [self.run_op(op, pass_no, timer) for op in order]
        return PassResult(pass_no, sum(r.latency_s for r in records), records)

    def layer_rows(self, passes: list[PassResult], events: dict) -> list[dict]:
        """One per-layer row per op execution."""
        return [op_layers(r.layers, events) for p in passes for r in p.records]


class StreamTimeout:
    name = "stream_timeout"
    scale = "sf0.01"
    tables = ["events"]
    # The first replay compiles; the second runs within about 10% of later
    # ones, and pass_s is a median over the timed replays.
    warmup_passes = 1

    def __init__(self, data_dir: str, gate: dict, seed: int) -> None:
        self.data_dir = data_dir
        self.gate = gate
        del seed  # the replay order is event-time order, not seeded

    def stage(self, spark, state: StateRoot) -> None:
        """Split events into ``STREAM_FILES`` time-ordered files whose
        mtimes follow event time, so the file stream replays in order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.state = state
        self.stage_dir = state.fresh("stream_stage")
        tbl = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        tbl = tbl.take(pa.compute.sort_indices(tbl.column("ts")))
        step = -(-tbl.num_rows // STREAM_FILES)
        for i in range(STREAM_FILES):
            # The first file keeps the canonical name: the stream infers
            # its schema from {dir}/events.parquet.
            name = "events.parquet" if i == 0 else f"events{i:03d}.parquet"
            path = os.path.join(self.stage_dir, name)
            pq.write_table(tbl.slice(i * step, step), path)
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    def prepare(self, spark, state: StateRoot) -> None:
        """The batch parity replay over the same events is the reference
        every stream output is checked against; it is itself checked
        against the gate first."""
        from mapreduce_hadoop_spark import registry
        from tools.check_oracle import value_hash

        self.spark = spark
        self.groups = JobGroups(spark)
        parity = registry.queries()["airport_trips_parity"](spark, self.data_dir).toPandas()
        want = self.gate["airport_trips_parity"]
        got = (len(parity), value_hash(parity))
        if got != want:
            raise RuntimeError(f"parity reference {got} != gate {want}")
        self.parity = parity

    def check(self, got) -> str | None:
        """The timeout stream emits every parity trip bit-identically, plus
        at most one flushed trailing trip per idle taxi."""
        want = self.parity
        key = ["taxi", "start_t"]
        wk = set(want[key].itertuples(index=False, name=None))
        gk = set(got[key].itertuples(index=False, name=None))
        if not wk <= gk:
            return f"stream lost {len(wk - gk)} parity trips"
        merged = want.merge(got, on=key, suffixes=("_w", "_g"))
        for c in want.columns:
            if c not in key and not (merged[f"{c}_w"].values == merged[f"{c}_g"].values).all():
                return f"stream column {c} differs from parity"
        extras = got[[k not in wk for k in got[key].itertuples(index=False, name=None)]]
        if not extras["taxi"].is_unique:
            return "stream flushed more than one trailing trip for a taxi"
        return None

    def run_pass(self, pass_no: int, timer: LayerTimer | None = None) -> PassResult:
        from mapreduce_hadoop_spark.streaming.trips import airport_trips_stream_timeout

        spark, groups = self.spark, self.groups
        name = f"replay_{pass_no}"
        phases = {p: group_id(pass_no, name, p) for p in ("load", "build")}
        progress: list[dict] = []
        layers: dict = {"groups": phases}
        error = None
        t0 = time.perf_counter()
        try:
            groups.set(phases["build"])
            df = airport_trips_stream_timeout(spark, self.stage_dir, max_files_per_trigger=1)
            layers["operators.build_s"] = time.perf_counter() - t0
            # The stream runs its batches under its own job group: its run id.
            groups.clear()
            query = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", self.state.fresh(os.path.join("ckpt", name)))
                .start()
            )
            layers["run_id"] = str(query.runId)
            try:
                finished = query.awaitTermination(OP_TIMEOUT_S)
                wall = time.perf_counter() - t0
                progress = [json.loads(p.json) for p in query.recentProgress]
            finally:
                query.stop()
            if timer is not None:
                layers["operators.cached_bytes"] = cached_bytes(spark)
            if not finished:
                error = "timeout"
            else:
                got = spark.sql(f"select * from {name}").toPandas()
                error = self.check(got)
        except Exception as exc:  # op boundary: record, count, continue
            wall = time.perf_counter() - t0
            error = _describe(exc)
        finally:
            groups.clear()
            spark.catalog.dropTempView(name)
            if timer is not None:
                layers["sources.load_table_calls"], layers["sources.load_table_s"] = timer.take()
        records = [
            OpRecord(
                f"batch_{p['batchId']}",
                pass_no,
                error is None,
                p["durationMs"]["triggerExecution"] / 1000.0,
                error,
            )
            for p in progress
        ]
        if error is not None and not records:
            records = [OpRecord(name, pass_no, False, wall, error)]
        layers["progress"] = progress
        return PassResult(pass_no, wall, records, layers)

    def layer_rows(self, passes: list[PassResult], events: dict) -> list[dict]:
        """One per-layer row per replay: its batches share one query run."""
        return [replay_layers(p.layers, events) for p in passes]


WORKLOADS = {w.name: w for w in (Interactive, StreamTimeout)}
