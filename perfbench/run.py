"""Benchmark launcher.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
the seed (cached per seed and size), computes the DuckDB oracles,
starts one engine process with every scratch path inside the checkout
and the checkout on the Python workers' PYTHONPATH, waits for it and
stops everything it left behind.  The engine prints the result as the
last line of standard output.  Exits non-zero, without a result, when
the engine sources are not there.
"""

from __future__ import annotations

import time

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("__spark_entry__.py", "bench.py", "strom_spark/__init__.py",
            "tools/gen_testdata.py", "tools/check_correctness.py")
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK = os.path.join(ROOT, ".perfbench_work")
RUNS = os.path.join(ROOT, ".perfbench_runs")
ENGINE_TIMEOUT_S = 170


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def oracle_signatures(data: str, flows: list[str]) -> str:
    """{flow: {columns, rows, sha256}} of each flow's DuckDB oracle,
    cached beside the inputs."""
    path = os.path.join(data, "oracles.json")
    have = {}
    if os.path.exists(path):
        with open(path) as f:
            have = json.load(f)
    todo = [n for n in flows if n not in have]
    if todo:
        import duckdb

        import __spark_entry__ as entry
        from perfbench.engine import signature_digest
        from perfbench.inputs import TABLES

        sql = entry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET threads={cpus()}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for name in todo:
            ddf = con.execute(sql[name]).df()
            cols = list(ddf.columns)
            rows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
            have[name] = {"columns": sorted(cols), "rows": len(rows),
                          "sha256": signature_digest(rows, cols)}
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(have, f, indent=1)
        os.replace(path + ".tmp", path)
    return path


def engine_env(work: str) -> dict:
    """Environment of an engine process: every scratch path under
    ``work``, one Spark core per cpu, a bounded driver heap."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    env.update({
        # Python workers import strom_spark from the checkout, wherever
        # the driver process was started
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "STROM_SPARK_DRIVER_MEM": env.get("STROM_SPARK_DRIVER_MEM", "3g"),
        "STROM_SPARK_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (f"--conf spark.ui.showConsoleProgress=false "
                                f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"),
    })
    return env


def stop_group(pgid: int) -> None:
    """Stop every process of the engine's session and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.inputs import ensure_inputs, fingerprint
    from perfbench.workloads import WORKLOADS, stage_order_events

    spec = WORKLOADS.get(args.workload)
    if spec is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    data = ensure_inputs(ROOT, CACHE, args.seed, spec["sf"])
    oracles = oracle_signatures(data, spec["flows"])
    fp = fingerprint(data)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra = []
    if spec["kind"] == "stream":
        stream_dir = os.path.join(work, "events")
        events = stage_order_events(data, stream_dir, spec["files"])
        extra = ["--stream-dir", stream_dir]
    else:
        events = sum(fp[t]["rows"] for t in spec["tables"])
    context = {"sf": spec["sf"], "inputs": fp, "cpus": cpus(), "events": events,
               "sizes": {t: fp[t]["rows"] for t in fp}}

    env = engine_env(work)
    record = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "engine.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--oracles", oracles,
           "--record", record, "--events", str(events),
           "--context", json.dumps(context), *extra]
    # a terminated launcher still stops the engine (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    env["PERFBENCH_SPAWNED"] = repr(time.time())
    child = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
    try:
        code = child.wait(timeout=ENGINE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: engine exceeded {ENGINE_TIMEOUT_S}s", file=sys.stderr)
        code = 3
    except KeyboardInterrupt:
        code = 130
    finally:
        stop_group(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
