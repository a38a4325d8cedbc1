"""The engine's benchmark: one command per workload.

    python3 perfbench/run.py --workload interactive_sf0.01 --seed 1 \
        --seconds 22 --trace 0 [--smoke]

Run from the root of a checkout. The run is a closed loop with one client on
``local[nproc]`` with nproc shuffle partitions:

1. set-up, three times: a fresh SparkContext (the first round also starts
   the process and the JVM), freshly staged inputs in a benchmark-owned
   state root, and one ``load_table`` of every input table. ``setup_s`` is
   the median round;
2. untimed, checked warm-up passes (the workload's ``warmup_passes``);
3. timed passes until ``--seconds`` have elapsed; every op's output is
   checked, so failures count mismatches, exceptions and timeouts.

End-to-end metrics: ``setup_s``; ``op_gmean_s``, the geometric mean over
the workload's ops of each op's median latency; ``op_p90_s`` over all op
samples; ``pass_s``, the median timed pass; ``peak_rss_mb``, the summed
peak RSS of the process tree (driver Python, JVM, Python workers) read once
after the timed passes, so that no sampler competes with the ops.

With ``--trace 1`` the timed passes get half of ``--seconds``; the run then
restarts the SparkContext with the event log on and repeats 2 and 3 (one
warm-up pass, the other half of ``--seconds``) under per-op job groups and
timing wrappers, and reports the per-layer metrics instead of the
end-to-end ones. ``--smoke`` runs the same workload on the sf0.001 tables.

stdout carries one ``name value unit`` line per metric and, as its last
line, one JSON object with the keys correct, attempted, failed and metrics.
A full record (host, inputs, every op) goes to
``.perfbench/results/<workload>_seed<seed>_trace<0|1>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_ROUNDS = 3
MB = 1024 * 1024

E2E_UNITS = {
    "setup_s": "s",
    "op_gmean_s": "s",
    "op_p90_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "warmup.first_pass_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.cached_bytes": "bytes",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.task_failures": "count",
    "operators.empty_task_ratio": "ratio",
    "operators.scheduler_delay_ms": "ms",
    "operators.executor_run_ms": "ms",
    "operators.executor_cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.scan_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_fetch_wait_ms": "ms",
    "operators.spill_bytes": "bytes",
    "operators.rows_scanned_per_row_out": "ratio",
    "functions.py_worker_start_ms": "ms",
    "functions.py_worker_init_ms": "ms",
    "functions.py_worker_run_ms": "ms",
    "functions.py_bytes_sent": "bytes",
    "functions.py_bytes_received": "bytes",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_peak": "count",
    "streaming.state_rows_removed": "count",
    "streaming.state_memory_bytes_peak": "bytes",
    "trace.overhead_s": "s",
}


def percentile(samples: list[float], q: int) -> float:
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


class Run:
    def __init__(self, workload, state: harness.StateRoot) -> None:
        self.workload = workload
        self.state = state
        self.spark = None
        self.get_spark_s: list[float] = []
        self.passes = []  # every pass, warm-up included, in run order

    def start_spark(self, event_log: str | None = None) -> None:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = harness.start_spark(self.state, event_log)
        self.get_spark_s.append(time.perf_counter() - t0)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self) -> list[float]:
        from mapreduce_hadoop_spark.sources.tables import load_table

        w = self.workload
        tables = w.tables or sorted(harness.table_stats(w.data_dir))
        rounds = []
        for i in range(SETUP_ROUNDS):
            t0 = T_START if i == 0 else time.perf_counter()
            self.start_spark()
            w.stage(self.spark, self.state)
            for t in tables:
                load_table(self.spark, w.data_dir, t)
            rounds.append(time.perf_counter() - t0)
        return rounds

    def measure(self, seconds: float, warmup_passes: int, timer=None) -> list:
        """Warm-up passes, then timed passes until ``seconds`` are spent."""
        w = self.workload
        w.prepare(self.spark, self.state)
        for _ in range(warmup_passes):
            self.passes.append(w.run_pass(len(self.passes), timer))
        timed = []
        t0 = time.perf_counter()
        while not timed or time.perf_counter() - t0 < seconds:
            timed.append(w.run_pass(len(self.passes), timer))
            self.passes.append(timed[-1])
        return timed

    def traced(self, seconds: float) -> tuple[list, dict]:
        log_dir = self.state.fresh("eventlog")
        self.start_spark(event_log=log_dir)
        timer = tracing.LayerTimer(tracing.JobGroups(self.spark))
        with timer.installed():
            # The JIT is already warm; one pass re-creates the Python workers
            # of the new SparkContext.
            timed = self.measure(seconds, 1, timer)
        self.stop()  # flushes and closes the event log
        return timed, tracing.parse_event_log(tracing.event_log_file(log_dir))


def end_to_end(setup_rounds, timed, peak_memory) -> dict[str, float]:
    samples = [s for p in timed for s in p.samples]
    if not samples:
        raise RuntimeError("no op succeeded in the timed passes")
    by_op: dict[str, list[float]] = {}
    for p in timed:
        for r in p.records:
            if r.ok:
                by_op.setdefault(r.op, []).append(r.latency_s)
    return {
        "setup_s": statistics.median(setup_rounds),
        # Every op of the mix weighs the same, whatever its latency; a
        # pooled median would be the latency of whichever op sits in the
        # middle of the mix.
        "op_gmean_s": statistics.geometric_mean(
            [statistics.median(v) for v in by_op.values()]
        ),
        "op_p90_s": percentile(samples, 90),
        "pass_s": statistics.median(p.wall_s for p in timed),
        "peak_rss_mb": peak_memory / MB,
    }


def per_layer(run: Run, timed, untraced_pass_s, op_rows) -> dict[str, float]:
    """Per-pass means over the traced passes; ratios over their totals."""
    n = len(timed)
    tot: dict[str, float] = {}
    for row in op_rows:
        for k, v in row.items():
            tot[k] = max(tot.get(k, 0), v) if k.endswith("_peak") else tot.get(k, 0) + v
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for k, v in tot.items():
        if k in out:
            out[k] = v if k.endswith("_peak") else v / n
    out["operators.empty_task_ratio"] = tot.get("operators.empty_tasks", 0) / max(
        1, tot.get("operators.tasks", 0)
    )
    out["operators.rows_scanned_per_row_out"] = tot.get("operators.scan_records", 0) / max(
        1, tot.get("rows_out", 0)
    )
    out["session.get_spark_s"] = statistics.median(run.get_spark_s)
    out["warmup.first_pass_s"] = run.passes[0].wall_s
    # The traced passes run later than the untraced ones, on a JIT that has
    # had longer to settle, so this difference can come out negative.
    out["trace.overhead_s"] = statistics.median(p.wall_s for p in timed) - untraced_pass_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run on the sf0.001 tables")
    args = ap.parse_args(argv)

    cls = WORKLOADS[args.workload]
    scale = "sf0.001" if args.smoke else cls.scale
    try:
        gate_path = harness.check_checkout(scale)
    except harness.CheckoutError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    state = harness.StateRoot()
    workload = cls(os.path.join(harness.DATA_DIR, scale), harness.read_gate(gate_path), args.seed)
    run = Run(workload, state)
    record: dict = {"workload": args.workload, "scale": scale, "gate": os.path.basename(gate_path)}
    try:
        rounds = run.setup()
        # A traced run splits its budget between the untraced passes that
        # trace.overhead_s is taken against and the traced passes.
        seconds = args.seconds / 2 if args.trace else args.seconds
        timed = run.measure(seconds, workload.warmup_passes)
        tree = harness.tree_peak_rss(os.getpid())
        metrics = end_to_end(rounds, timed, sum(rss for _, rss in tree.values()))
        record["peak_rss_tree"] = {}
        for comm, rss in tree.values():
            entry = record["peak_rss_tree"].setdefault(comm, [0, 0])
            entry[0] += 1
            entry[1] += rss
        if args.trace:
            t_timed, events = run.traced(seconds)
            rows = workload.layer_rows(t_timed, events)
            layers = per_layer(run, t_timed, metrics["pass_s"], rows)
            record["op_layers"] = rows
    finally:
        run.stop()
        harness.shutdown_jvm()
        state.remove()

    records = [r for p in run.passes for r in p.records]
    failed = sum(not r.ok for r in records)
    record.update(
        host=harness.host_record(args.seed, workload.data_dir),
        setup_rounds_s=rounds,
        get_spark_s=run.get_spark_s,
        passes=[
            {"pass": p.pass_no, "wall_s": p.wall_s, "ops": [
                {"op": r.op, "ok": r.ok, "latency_s": r.latency_s, "error": r.error}
                for r in p.records
            ]}
            for p in run.passes
        ],
        samples=sum(len(p.samples) for p in timed),
        failures=[f"{r.op} (pass {r.pass_no}): {r.error}" for r in records if not r.ok],
    )
    reported = layers if args.trace else metrics
    units = LAYER_UNITS if args.trace else E2E_UNITS
    record["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in reported.items()}
    record["end_to_end"] = metrics

    out_dir = os.path.join(harness.RUN_DIR, "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}{'_smoke' if args.smoke else ''}"
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    host = record["host"]
    print(f"# {args.workload} on {scale}: local[{host['nproc']}], Spark {host['spark']}, "
          f"Python {host['python']}, seed {args.seed}, commit {host['git_commit']}, "
          f"src {host['src_hash']}")
    print("# inputs: " + ", ".join(
        f"{t} {s['rows']} rows/{s['bytes']} B" for t, s in host["inputs"].items()))
    print("# in-session engine memos stay warm across ops and passes, as in a "
          "long-lived session; cache and builder persists are cleared between ops")
    print(f"# timed passes {len(timed)}, op samples {record['samples']}, "
          f"ops attempted {len(records)}, failed {failed}, "
          f"fail_ratio {failed / max(1, len(records))}")
    for failure in record["failures"]:
        print(f"# FAILED {failure}")
    for k, v in record["metrics"].items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
