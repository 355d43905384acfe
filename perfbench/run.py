#!/usr/bin/env python3
"""Layered benchmark for the variational-EM trainer and the query
registry.

    python3 perfbench/run.py --workload zipf_bcast --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process drives one workload (see
``workloads.py``) in a closed loop on ``local[nproc]``: one training or
query call at a time, each call waiting for the previous one.  The
last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``:

- ``--trace 0``: the end-to-end metrics (``workloads.py`` defines them);
- ``--trace 1``: the per-layer metrics.  Spans around each layer call
  set a Spark job group, the Spark event log is turned on, and task
  metrics are attributed to the groups after the session stops.  A
  layer a workload does not exercise reads 0.  The traced run also
  prints its own end-to-end values and, when an untraced run of the
  same workload and seed is on record, the tracing overhead.

Each run prints a ``host`` line (cores, RAM, driver memory, versions,
and ``host.control_s``, a fixed host-speed probe run after the
workload).  A failed
output check or engine call counts in ``failed``, sets ``correct`` to
false and makes the exit code 1.  Scratch files go to
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# The session default (32g) does not fit a 15 GiB host; the E-step's
# Python workers need the rest of the memory.
DRIVER_MEMORY = "4g"

E2E_METRICS = {
    "setup_s", "train_s", "final_perplexity", "work_s", "peak_worker_rss_mb",
    "topic_recovery",
}


def _per_layer(run, tracer, groups: dict, session_start_s: float, control_s: float) -> dict:
    """Every per-layer metric; a layer the workload did not run reads 0."""
    from harness import TRAIN_LAYER_UNITS, layer_metrics

    passes = max(run.passes, 1)
    out = {
        "session.start_s": (session_start_s, "s"),
        "host.control_s": (control_s, "s"),
        "kernel.sweep_s": (0.0, "s"),
        "kernel.pad_efficiency": (0.0, "ratio"),
        "kernel.padded_mb": (0.0, "MB"),
    }
    for span in ("sources.read_raw", "parse.dictionary", "parse.encode"):
        out[f"{span}_s"] = (tracer.median(span), "s")
    for span in ("display.topic", "display.document"):
        out[f"{span}_s"] = (run.per_pass(span), "s")
    for prefix in ("lda", "lda_join", "polylda"):
        out.update({f"{prefix}.{k}": (0.0, u) for k, u in TRAIN_LAYER_UNITS.items()})
        out[f"{prefix}.train_s"] = (0.0, "s")
    for prefix, span, iters in run.trainings:
        out.update(layer_metrics(prefix, groups, tracer, span, iters, passes))
        out[f"{prefix}.train_s"] = (run.per_pass(span), "s")
    infer = groups.get("infer", _EMPTY_GROUP)
    out["infer.jobs"] = (infer["jobs"] / passes, "count")
    out["infer.executor_cpu_s"] = (infer["cpu_s"] / passes, "s")
    from bench import HEADLINE

    reg = [groups.get(f"registry.{q}", _EMPTY_GROUP) for q in HEADLINE]
    for q in HEADLINE:
        out[f"registry.{q}_s"] = (0.0, "s")
    out["registry.jobs"] = (sum(g["jobs"] for g in reg) / passes, "count")
    out["registry.shuffle_mb"] = (sum(g["shuffle_write_mb"] for g in reg) / passes, "MB")
    out["registry.total_s"] = (sum(run.per_pass(f"registry.{q}") for q in HEADLINE), "s")
    out.update(run.layers)
    return out


_EMPTY_GROUP = {
    "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
    "cpu_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
    "spill_mb": 0.0, "result_mb": 0.0, "job_intervals": [],
}


def main() -> int:
    ap = argparse.ArgumentParser(description="Layered Mr.LDA benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:  # the engine and bench.py come from the checkout, not from here
        import bench  # noqa: F401
        import mr_lda_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine not found next to {HERE}: {exc}", file=sys.stderr)
        return 2

    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work_dir = os.path.join(WORK, args.workload)
    shutil.rmtree(work_dir, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    harness.configure_process(work_dir, cpus)
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None

    from mr_lda_spark.session import get_spark

    tracer = harness.Tracer(traced=bool(args.trace))
    control_s = 0.0
    ledger = harness.Ledger()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench-" + args.workload,
        extra_conf=harness.session_conf(work_dir, DRIVER_MEMORY, event_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    tracer.spark = spark

    run = workloads.Run(
        spark=spark, tracer=tracer, ledger=ledger, seed=args.seed,
        seconds=args.seconds, work_dir=work_dir,
    )
    try:
        with harness.WorkerRssPoller() as rss:
            workloads.WORKLOADS[args.workload](run, session_start_s)
        run.e2e["peak_worker_rss_mb"] = (rss.peak_mb, "MB")
        control_s = harness.control_loop_s(spark)
    except Exception as exc:  # noqa: BLE001 — reported below as a failure
        if not ledger.failed:
            ledger.failed += 1
            ledger.attempted += 1
        print(f"perfbench: workload aborted: {exc!r}", file=sys.stderr)
    finally:
        harness.stop_session(spark)
    host = harness.host_stamp(DRIVER_MEMORY, cpus)
    host["host.control_s"] = round(control_s, 4)
    print("host " + json.dumps(host), flush=True)

    groups = {}
    if args.trace:
        log = harness.event_log_file(event_dir)
        groups = harness.parse_event_log(log)
        shutil.rmtree(event_dir, ignore_errors=True)

    correct = ledger.failed == 0 and E2E_METRICS <= set(run.e2e)
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"passes={run.passes} op_failure_share="
          f"{ledger.failed / max(ledger.attempted, 1):.4f}")
    for name, (value, unit) in sorted(run.e2e.items()):
        print(f"  {name} = {value:.4f} {unit}")
    for err in ledger.errors:
        print(f"  FAILED {err}")

    untraced = os.path.join(WORK, "results", f"e2e-{args.workload}-seed{args.seed}.json")
    if args.trace:
        metrics = _per_layer(run, tracer, groups, session_start_s, control_s)
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            for name, (value, unit) in sorted(run.e2e.items()):
                if name in base:
                    print(f"  tracing overhead {name}: {value - base[name]:+.4f} {unit}")
    else:
        metrics = run.e2e
        if correct:
            os.makedirs(os.path.dirname(untraced), exist_ok=True)
            with open(untraced, "w") as fh:
                json.dump({k: v for k, (v, _) in run.e2e.items()}, fh)
    print(json.dumps(
        {
            "correct": bool(correct),
            "attempted": max(ledger.attempted, 1),
            "failed": ledger.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
        }
    ))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
