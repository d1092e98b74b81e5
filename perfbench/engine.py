"""One benchmark run in a fresh process.

Sets up a session through ``get_spark``, runs one workload's passes
through the engine's public entry points, checks the cold pass against
the DuckDB oracles, writes the run record and prints the result line.
``perfbench/run.py`` prepares the inputs and oracles and starts this.
"""

from __future__ import annotations

import time

T_IMPORT = time.time()

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    STREAM_SCHEMA, TIMEOUT_S, WATERMARK, WORKLOADS)

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
             "events_per_s": "1/s", "batch_p50_ms": "ms", "batch_tail_ms": "ms"}

#: per-layer metric -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.build_tasks": "count", "loop.rounds": "count",
    "cache.released": "count", "cache.stored_bytes": "bytes",
    "plan.s": "s", "plan.nodes": "count", "plan.exchanges": "count",
    "sinks.execute_s": "s", "sinks.jobs": "count", "sinks.stages": "count",
    "sinks.tasks": "count", "sinks.failed_tasks": "count",
    "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "shuffle.bytes_written": "bytes", "shuffle.records_written": "count",
    "shuffle.write_ms": "ms", "shuffle.fetch_wait_ms": "ms",
    "shuffle.partitions_read": "count",
    "broadcast.bytes": "bytes", "broadcast.collect_ms": "ms",
    "memory.peak_bytes": "bytes", "memory.spill_bytes": "bytes",
    "memory.jvm_hwm_mb": "MB",
    "sources.files_read": "count", "sources.bytes_read": "bytes",
    "sources.rows_read": "count", "sources.scan_ms": "ms",
    "python.run_ms": "ms", "python.start_ms": "ms",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes", "streaming.state_commit_ms": "ms",
    "streaming.rows_dropped_by_watermark": "count",
    "trace.overhead_pct": "%",
}
_LAYER_TIMES = {"operators.build_s": "operators", "plan.s": "plan",
                "sinks.execute_s": "sinks"}
_PROGRESS_MS = {"streaming.add_batch_ms": "addBatch",
                "streaming.query_planning_ms": "queryPlanning",
                "streaming.get_batch_ms": "getBatch",
                "streaming.latest_offset_ms": "latestOffset",
                "streaming.wal_commit_ms": "walCommit",
                "streaming.commit_offsets_ms": "commitOffsets"}


def tail_index(n: int) -> int | None:
    """Index into n sorted samples of the highest percentile that has at
    least ten samples beyond it."""
    return n - 11 if n >= 11 else None


def signature_digest(rows, columns) -> str:
    from tools.check_correctness import frame_signature

    return hashlib.sha256("\n".join(frame_signature(rows, columns)).encode()).hexdigest()


class Run:
    """State of one run: session, tracer, counters and failures."""

    def __init__(self, args, spec: dict, spark, tracer: tr.Tracer) -> None:
        self.args = args
        self.spec = spec
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.capture = tr.SqlCapture(spark) if args.trace else None
        with open(args.oracles) as f:
            self.oracles = json.load(f)
        self.attempted = 0
        self.errors: list[dict] = []
        self.counts: dict[int, dict] = {}  # pass index -> counters
        self.flow_times: dict[int, dict] = {}  # pass index -> {flow: s}
        self.stream_batches: dict[int, list] = {}  # pass index -> batches
        self.traced_passes: list[int] = []
        self.steady_from = 1 + self.spec["warmup"]

    # --- batch flows ----------------------------------------------------

    def batch_pass(self, idx: int, traced: bool, check: bool) -> float:
        import __spark_entry__ as entry

        qs = entry.queries()
        counts: dict[str, float] = {}
        outputs = {}
        if traced:
            self.traced_passes.append(idx)
            self.capture.start()
        with self.tracer.span(f"pass{idx}", "pass", traced=traced) as ps:
            for name in self.spec["flows"]:
                self.attempted += 1
                try:
                    outputs[name] = self._batch_flow(qs[name], name, idx, traced, counts)
                except Exception as e:  # one failing flow must not stop the pass
                    self.errors.append(_failure(idx, name, e))
        if traced:
            self.capture.stop()
        self.counts[idx] = counts
        if check:
            for name, (df, path) in outputs.items():
                self._check(name, lambda: self._batch_output(df, path))
        return ps["end"] - ps["start"]

    def _batch_flow(self, fn, name, idx, traced, counts):
        from strom_spark import Flow, Sink, Write, capture_loop_plans, release_caches

        path = os.path.join(self.args.work, "out", f"p{idx}", name)
        group = f"perfbench:p{idx}:{name}"
        with self.tracer.span(name, "flow") as fs:
            if traced:
                self.sc.setJobGroup(f"{group}:build", name)
                with self.tracer.span("build", "operators"), capture_loop_plans() as loops:
                    df = fn(self.spark, self.args.data)
                self._fold_jobs(counts, f"{group}:build", "operators.build_")
                counts["loop.rounds"] = counts.get("loop.rounds", 0) + len(loops)
                with self.tracer.span("plan", "plan"):
                    planned = df._jdf.queryExecution().executedPlan()
                nodes, exchanges = tr.plan_shape(planned)
                counts["plan.nodes"] = counts.get("plan.nodes", 0) + nodes
                counts["plan.exchanges"] = counts.get("plan.exchanges", 0) + exchanges
                self.sc.setJobGroup(f"{group}:sink", name)
            else:
                with self.tracer.span("build", "operators"):
                    df = fn(self.spark, self.args.data)
            with self.tracer.span("sink", "sinks"):
                Sink(name, Write(self.spec["sink"], path))(Flow({name: df}))
            if traced:
                self._fold_jobs(counts, f"{group}:sink", "sinks.")
                for qe in self.capture.drain():
                    tr.fold_sql_metrics(tr.plan_nodes(qe.executedPlan()), counts)
                counts["cache.stored_bytes"] = counts.get("cache.stored_bytes", 0) + _stored_bytes(self.sc)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self.tracer.span("release", "cache"):
                released = release_caches()
            counts["cache.released"] = counts.get("cache.released", 0) + released
        self.flow_times.setdefault(idx, {})[name] = fs["end"] - fs["start"]
        return df, path

    def _batch_output(self, df, path):
        if self.spec["sink"] == "noop":
            return [tuple(r) for r in df.collect()], df.columns
        back = self.spark.read.parquet(path)
        return [tuple(r) for r in back.collect()], back.columns

    # --- the stream -----------------------------------------------------

    def stream_pass(self, idx: int, traced: bool, check: bool) -> float:
        from pyspark.sql import functions as F
        from strom_spark import Flow, Sink, Write
        from strom_spark.streaming.cep import StreamingMatchDecide

        out = os.path.join(self.args.work, "out", f"p{idx}", "decisions")
        counts: dict[str, float] = {}
        self.attempted += 1
        if traced:
            self.traced_passes.append(idx)
            self.capture.start()
        ok = True
        with self.tracer.span(f"pass{idx}", "pass", traced=traced) as ps:
            with self.tracer.span("cep_stream", "flow"):
                try:
                    with self.tracer.span("build", "operators"):
                        events = (self.spark.readStream.schema(STREAM_SCHEMA)
                                  .option("maxFilesPerTrigger", 1)
                                  .parquet(self.args.stream_dir)
                                  .withWatermark("ts", WATERMARK))
                        flow = StreamingMatchDecide(
                            "events", "decisions", key="order_id",
                            timeout_s=TIMEOUT_S)(Flow({"events": events}))
                    first = self.capture.execution_count() if traced else 0
                    with self.tracer.span("sink", "sinks"):
                        sink = Sink("decisions", Write("parquet", out), sync=True)
                        sink(flow)
                        batches = tr.progress_batches(sink.query.recentProgress)
                        # progress stamps are whole milliseconds: keep the
                        # batch spans inside the sink span and disjoint
                        lo, now = self.tracer.current()["start"], time.time()
                        for i, b in enumerate(batches):
                            start = min(max(b["start"], lo), now)
                            lo = min(max(b["end"], start), now)
                            self.tracer.add(f"batch{i}", "streaming", start, lo)
                    self.stream_batches[idx] = batches
                    if traced:
                        tr.fold_sql_metrics(self.capture.status_nodes(first), counts, raw=False)
                        self._fold_jobs(counts, str(sink.query.runId), "sinks.")
                        _fold_progress(batches, counts)
                except Exception as e:
                    ok = False
                    self.errors.append(_failure(idx, "cep_stream", e))
        if traced:
            self.capture.stop()
        self.counts[idx] = counts
        if check and ok:
            def decisions():
                back = (self.spark.read.parquet(out).filter(F.col("order_id") >= 0)
                        .select(F.col("order_id").alias("o_orderkey"), "decision"))
                return [tuple(r) for r in back.collect()], back.columns
            self._check("cep_order_fulfillment", decisions)
        return ps["end"] - ps["start"]

    # --- shared ---------------------------------------------------------

    def _check(self, name, read) -> None:
        want = self.oracles.get(name)
        try:
            rows, cols = read()
            got = {"columns": sorted(cols), "rows": len(rows),
                   "sha256": signature_digest(rows, cols)}
            if got != want:
                self.errors.append({"pass": 0, "flow": name, "error": "wrong result",
                                    "got": got, "want": want})
        except Exception as e:
            self.errors.append(_failure(0, name, e))

    def _fold_jobs(self, counts, group, prefix) -> None:
        for k, v in tr.job_counts(self.sc, group).items():
            counts[prefix + k] = counts.get(prefix + k, 0) + v


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {str(e)[:300]}"


def _failure(idx: int, flow: str, e: Exception) -> dict:
    return {"pass": idx, "flow": flow, "error": _err(e), "traceback": traceback.format_exc()}


def _stored_bytes(sc) -> int:
    return sum(int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo())


def _fold_progress(batches, counts) -> None:
    counts["streaming.batches"] = len(batches)
    for key, part in _PROGRESS_MS.items():
        counts[key] = sum(b["durations"].get(part, 0) for b in batches)
    ops = [b["state"] for b in batches]
    counts["streaming.state_rows"] = max((sum(o.get("numRowsTotal", 0) for o in s) for s in ops), default=0)
    counts["streaming.state_memory_bytes"] = max((sum(o.get("memoryUsedBytes", 0) for o in s) for s in ops), default=0)
    counts["streaming.state_commit_ms"] = sum(o.get("commitTimeMs", 0) for s in ops for o in s)
    counts["streaming.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for s in ops for o in s)


def _jvm_hwm_mb(sc) -> float:
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _commit() -> str:
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _source_digest() -> str:
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "strom_spark"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def measured_passes(spec, seconds: int) -> int:
    return max(1, round(spec["passes"] * seconds / 10))


def run_workload(run: Run, steady: int) -> dict:
    """Cold pass, the workload's discarded warm-up passes, then the steady
    passes; a traced run alternates untraced and traced steady passes
    (at least one of each).  Returns pass times."""
    one = run.batch_pass if run.spec["kind"] == "batch" else run.stream_pass
    times = {"cold": one(0, run.args.trace, check=True), "untraced": [], "traced": []}
    for i in range(1, run.steady_from):
        one(i, False, check=False)
    for i in range(max(2, steady) if run.args.trace else steady):
        traced = bool(run.args.trace) and i % 2 == 1
        times["traced" if traced else "untraced"].append(
            one(run.steady_from + i, traced, check=False))
    return times


def end_to_end(run: Run, times: dict, setup_s: float, events: int) -> dict:
    """Untraced steady passes only: a flow run (batch) or a micro-batch
    (stream) is one unit for batch_p50_ms and batch_tail_ms."""
    steady = [i for i in range(run.steady_from, 1 + max(run.counts))
              if i not in run.traced_passes]
    if run.spec["kind"] == "batch":
        units = [t for i in steady for t in run.flow_times.get(i, {}).values()]
    else:
        units = [b["durations"].get("triggerExecution", 0) / 1000.0
                 for i in steady for b in run.stream_batches.get(i, [])]
    warm = statistics.median(times["untraced"])
    units = sorted(units) or [warm]  # every flow of the steady passes failed
    k = tail_index(len(units))
    tail = len(units) - 1 if k is None else k
    return {"setup_s": setup_s, "cold_s": times["cold"], "warm_s": warm,
            "events_per_s": events / warm,
            "batch_p50_ms": statistics.median(units) * 1e3,
            "batch_tail_ms": units[tail] * 1e3,
            "tail_percentile": round(100.0 * (tail + 1) / len(units), 1),
            "units": len(units)}


def per_layer(run: Run, times: dict, session: dict) -> dict:
    traced = [i for i in run.traced_passes if i >= run.steady_from]
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    out.update(session)
    if traced:
        last = run.counts[traced[-1]]
        for k, v in last.items():
            out[k] = v
        splits = [tr.layer_self_times(run.tracer.spans, _pass_span(run, i)["id"]) for i in traced]
        for key, layer in _LAYER_TIMES.items():
            out[key] = statistics.median(s.get(layer, 0.0) for s in splits)
    out["memory.jvm_hwm_mb"] = _jvm_hwm_mb(run.sc)
    if times["traced"] and times["untraced"]:
        u = statistics.median(times["untraced"])
        out["trace.overhead_pct"] = 100.0 * (statistics.median(times["traced"]) - u) / u
    return out


def _pass_span(run: Run, idx: int) -> dict:
    return next(s for s in run.tracer.spans if s["name"] == f"pass{idx}" and s["layer"] == "pass")


def flow_splits(run: Run) -> dict:
    """Layer self times per flow of each traced pass (kept in the record)."""
    out = {}
    for s in run.tracer.spans:
        if s["layer"] == "flow":
            parent = run.tracer.spans[s["parent"]]
            if parent["attrs"].get("traced"):
                out.setdefault(parent["name"], {})[s["name"]] = tr.layer_self_times(
                    run.tracer.spans, s["id"])
    return out


def main(argv=None, workloads: dict = WORKLOADS) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--oracles", required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--stream-dir", default=None)
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--context", default="{}")
    args = ap.parse_args(argv)
    spawned = float(os.environ.get("PERFBENCH_SPAWNED", T_IMPORT))

    tracer = tr.Tracer()
    with tracer.span("run", "run"):
        with tracer.span("session", "session"):
            t0 = time.time()
            from strom_spark import get_spark

            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.time()
            spark.range(200_000).selectExpr("sum(id * 2)").collect()
            ready = time.time()
        session = {"session.start_s": t1 - t0, "session.warmup_s": ready - t1}
        setup_s = ready - spawned

        import bench as repo_bench

        steal0 = repo_bench._steal_sample()
        canary_start = repo_bench._canary_min(spark, runs=1)
        run = Run(args, workloads[args.workload], spark, tracer)
        steady = measured_passes(run.spec, args.seconds)
        with tracer.span(args.workload, "workload"):
            times = run_workload(run, steady)
        canary_end = repo_bench._canary_min(spark, runs=1)
        steal_pct = repo_bench._steal_pct(steal0, repo_bench._steal_sample())

    failed = len(run.errors)
    e2e = end_to_end(run, times, setup_s, args.events)
    layers = per_layer(run, times, session) if args.trace else {}
    record = {
        **json.loads(args.context), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "commit": _commit(),
        "source_sha256": _source_digest(),
        "canary_start_s": canary_start, "canary_end_s": canary_end, "steal_pct": steal_pct,
        "attempted": run.attempted, "failed": failed,
        "error_rate": failed / run.attempted, "errors": run.errors,
        "pass_times": times, "flow_times": run.flow_times,
        "end_to_end": e2e, "per_layer": layers,
        "pass_counts": run.counts, "flow_layer_self_s": flow_splits(run) if args.trace else {},
        "spans": tracer.spans if args.trace else [],
    }
    os.makedirs(os.path.dirname(args.record), exist_ok=True)
    with open(args.record, "w") as f:
        json.dump(record, f, indent=1, default=str)
    spark.stop()

    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"error_rate={record['error_rate']:.4f} ({failed}/{run.attempted}) "
          f"tail=p{e2e['tail_percentile']} of {e2e['units']} units "
          + " ".join(f"{k}={m['value']:.6g}{m['unit']}" for k, m in metrics.items()
                     if not args.trace or k in ("operators.build_s", "sinks.execute_s",
                                                "plan.s", "trace.overhead_pct")))
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
