"""Self-test of the benchmark at a tiny seed-generated size.

    python3 perfbench/selftest.py

Runs the engine in this process three times (about two minutes on
4 cores) and checks that:

* every metric BENCHMARK.json names is printed with its unit, untraced
  (end-to-end) and traced (per layer);
* a clean run has error_rate 0, and a flow that raises and a flow with a
  wrong result each count as failed;
* every traced span but the root has a parent, every self time is >= 0,
  and the layer self times of each pass add up to the pass time.

Exits 0 when every check holds.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import engine, run, trace  # noqa: E402
from perfbench.inputs import ensure_inputs  # noqa: E402
from perfbench.workloads import WORKLOADS, stage_order_events  # noqa: E402

SEED, SF = 7, 0.001
FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def run_engine(workloads: dict, workload: str, trace_on: int, data: str, oracles: str,
               work: str, events: int, extra=()) -> tuple[dict, dict]:
    record = os.path.join(work, f"{workload}-{trace_on}.json")
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        engine.main(["--workload", workload, "--seed", str(SEED), "--seconds", "1",
                     "--trace", str(trace_on), "--data", data, "--work", work,
                     "--oracles", oracles, "--record", record,
                     "--events", str(events), *extra], workloads)
    with open(record) as f:
        return json.loads(out.getvalue().strip().splitlines()[-1]), json.load(f)


def check_metrics(result: dict, wanted: list[dict], what: str) -> None:
    got = result["metrics"]
    check(sorted(got) == sorted(m["name"] for m in wanted)
          and all(got[m["name"]]["unit"] == m["unit"] for m in wanted)
          and all(isinstance(got[m["name"]]["value"], (int, float)) for m in wanted),
          f"{what}: every BENCHMARK.json metric printed with its unit")


def check_spans(record: dict, what: str) -> None:
    spans = record["spans"]
    ids = {s["id"] for s in spans}
    check(bool(spans) and all(s["parent"] in ids for s in spans[1:])
          and spans[0]["parent"] is None, f"{what}: every span but the root has a parent")
    st = trace.self_times(spans)
    check(all(v >= 0 for v in st.values()), f"{what}: self times >= 0")
    worst = 0.0
    for s in spans:
        if s["layer"] == "pass":
            layers = trace.layer_self_times(spans, s["id"])
            worst = max(worst, abs(sum(layers.values()) - (s["end"] - s["start"])))
    check(worst < 1e-6, f"{what}: layer self times sum to the pass time (off by {worst:.2e}s)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(run.engine_env(work))
    data = ensure_inputs(ROOT, run.CACHE, SEED, SF)

    # a batch workload with a flow that raises and a flow whose oracle
    # digest is deliberately wrong
    tiny = dict(WORKLOADS["curation"], sf=SF)
    workloads = {"clean": dict(tiny, flows=["dsir_weights"]),
                 "faulty": dict(tiny, flows=["dsir_weights", "semdedup_flags", "no_such_flow"]),
                 "cep_stream": dict(WORKLOADS["cep_stream"], sf=SF)}
    good = run.oracle_signatures(data, ["dsir_weights", "semdedup_flags"])
    with open(good) as f:
        oracles = json.load(f)
    oracles["semdedup_flags"]["sha256"] = "0" * 64
    bad = os.path.join(work, "oracles-wrong.json")
    with open(bad, "w") as f:
        json.dump(oracles, f)
    events = 100

    result, record = run_engine(workloads, "clean", 0, data, good, work, events)
    check_metrics(result, bench["end_to_end"], "untraced batch")
    check(result["failed"] == 0 and record["error_rate"] == 0.0, "clean run: error_rate 0")

    result, record = run_engine(workloads, "faulty", 1, data, bad, work, events)
    check_metrics(result, bench["per_layer"], "traced batch")
    kinds = {(e["flow"], e["error"].split(":")[0]) for e in record["errors"]}
    check(("no_such_flow", "KeyError") in kinds, "a flow that raises counts as failed")
    check(("semdedup_flags", "wrong result") in kinds, "a wrong result counts as failed")
    check(record["error_rate"] > 0 and not result["correct"], "error_rate > 0, correct false")
    check_spans(record, "traced batch")

    stream_dir = os.path.join(work, "events")
    events = stage_order_events(data, stream_dir, 2)
    stream_oracles = run.oracle_signatures(data, ["cep_order_fulfillment"])
    result, record = run_engine(workloads, "cep_stream", 1, data, stream_oracles, work,
                                events, ["--stream-dir", stream_dir])
    check_metrics(result, bench["per_layer"], "traced stream")
    check(result["failed"] == 0, "stream decisions match the cep_order_fulfillment oracle")
    check(result["metrics"]["streaming.batches"]["value"] >= 3, "stream ran micro-batches")
    check_spans(record, "traced stream")

    shutil.rmtree(work, ignore_errors=True)
    print("selftest:", "PASS" if not FAILURES else f"{len(FAILURES)} FAILED")
    return 0 if not FAILURES else 1


if __name__ == "__main__":
    sys.exit(main())
