#!/usr/bin/env python3
"""Benchmark of the engine: one workload in one process with one Spark
session at ``local[<cores>]``, driven as a closed loop with one client.

    python3 perfbench/run.py --workload ids_pipeline --seed 1 --seconds 18 --trace 0

Run from the repository root.  Set-up starts the session, writes the
seeded inputs (several times, reporting the median), touches them and
runs two untimed warm-up passes; the outputs of the first are kept for
the checks.
Whole passes are then timed until the next one would end after
``--seconds``.  Before the first timed pass and after each one, two fixed
pieces of JVM work (``probes.reference_s``) measure the host's speed; pass
times are reported scaled to a host on which they take ``REF_NOMINAL_S``.
After the timed region the outputs are checked.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` passes alternate between untraced and
traced, the metrics are the per-layer ones of the traced passes, and the
spans are written to ``.perfbench_out/``.  The line before it holds run
details: load factor, core count, wall pass times, reference times, op
latency, failures.
``--smoke`` uses tiny inputs and one pass.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
TAIL_PCT = 90
# times of the host-speed references (probes.reference_s) on an idle 4-core VM
REF_NOMINAL_S = {"sort": 0.07, "job": 0.012}

END_TO_END = {
    "setup_s": "s",
    "norm_pass_s": "s",
    "norm_rows_per_s": "rows/s",
}
# layer metric -> unit; a layer the workload does not exercise reads 0
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_driver_only_s": "s",
    "queries.action_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stage_share": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_busy_share": "ratio",
    "spark.stage_launch_wait_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "ml.prepare_s": "s",
    "operators.split_s": "s",
    "ml.fit_dt_s": "s",
    "ml.fit_rf_s": "s",
    "ml.fit_nb_s": "s",
    "ml.eval_s": "s",
    "ml.confusion_s": "s",
    "ml.model_f1_min": "ratio",
    "sources.scan_s": "s",
    "sources.sink_write_s": "s",
    "sources.readback_s": "s",
    "sources.fixture_warm_s": "s",
    "sources.flows_generate_s": "s",
    "session.start_s": "s",
    "session.warmup_pass_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_mb": "MB",
    "session.leaked_tables": "count",
    "session.leaked_persists": "count",
    "session.conf_drift": "count",
    "session.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}
# spans whose summed duration is a layer metric of the same name + "_s"
TIMED_SPANS = (
    "queries.build", "queries.action", "ml.prepare", "operators.split",
    "ml.fit_dt", "ml.fit_rf", "ml.fit_nb", "ml.eval", "ml.confusion",
    "sources.scan", "sources.sink_write", "sources.readback",
)


@dataclasses.dataclass
class Pass:
    id: int
    traced: bool
    seconds: float
    ops: list
    jobs: tuple[int, int]
    layers: dict[str, float] = dataclasses.field(default_factory=dict)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one pass")
    return p.parse_args(argv)


def session_conf(work: str) -> dict[str, str]:
    """Conf shared by traced and untraced runs: every path inside the
    checkout, and job/stage retention large enough for a whole run."""
    return {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.sql.streaming.checkpointLocation": f"{work}/checkpoints",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


def tail(samples: list[float]) -> float:
    return statistics.quantiles(samples, n=100, method="inclusive")[TAIL_PCT - 1]


def layer_metrics(run, p: Pass, cores: int, events: list) -> dict[str, float]:
    """Per-layer metrics of one traced pass, from its spans, the status
    store and the streaming progress events it produced."""
    from probes import driver_only_s, spark_counters, streaming_counters

    spans = run.tracer.of_pass(p.id)
    jobs = run.store.jobs(*p.jobs)
    m = spark_counters(jobs, run.store.stages(jobs), p.seconds, cores)
    for name in TIMED_SPANS:
        m[f"{name}_s"] = sum(s.end - s.start for s in spans if s.name == name)
    builds = [s for s in spans if s.name == "queries.build"]
    m["queries.build_jobs"] = float(sum(s.jobs[1] - s.jobs[0] for s in builds))
    m["queries.build_driver_only_s"] = sum(
        driver_only_s(s.start, s.end, [j for j in jobs if s.jobs[0] <= j.id < s.jobs[1]])
        for s in builds
    )
    for phase in ("analysis", "optimization", "planning"):
        key = f"catalyst.{phase}_s"
        m[key] = sum(s.attrs.get(key, 0.0) for s in spans if s.name == "catalyst")
    m.update(streaming_counters(events))
    return m


def bench(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # Spark prefers this variable to spark.local.dir; an inherited value
    # would send shuffle files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    # fails here, before any JVM starts, when the engine is not present
    from network_ids_using_pyspark_spark.session import get_spark

    import workloads

    wl = workloads.make(args.workload, args.smoke)
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cpus=cores, extra_conf=session_conf(work)
    )
    try:
        return measure(spark, args, work, wl, cores)
    finally:
        stop(spark)


def measure(spark, args, work, wl, cores) -> tuple[dict, dict]:
    import probes
    from workloads import Run

    spark.sparkContext.setLogLevel("ERROR")
    setup = {"session.start_s": time.monotonic() - PROCESS_START}
    store = probes.StatusStore(spark)
    tracer = probes.Tracer(store, enabled=bool(args.trace))
    run = Run(spark, work, args.seed, tracer, store)

    reps = []
    for _ in range(1 if args.smoke else SETUP_REPS):
        t0 = time.perf_counter()
        reps.append({**wl.make_inputs(run), "total": time.perf_counter() - t0})
    for key in ("sources.flows_generate_s", "sources.fixture_warm_s"):
        setup[key] = statistics.median(r.get(key, 0.0) for r in reps)
    listener = probes.ProgressListener() if wl.streaming else None
    if listener:
        spark.streams.addListener(listener)
        run.listener = listener
    t0 = time.perf_counter()
    wl.warmup(run)
    # the first pass after the checked one is still JIT-bound; run it untimed
    warm_ops = wl.run_pass(run)
    setup["session.warmup_pass_s"] = time.perf_counter() - t0
    if listener:
        spark.streams.removeListener(listener)
        run.listener = None
    setup_s = (
        setup["session.start_s"]
        + statistics.median(r["total"] for r in reps)
        + setup["session.warmup_pass_s"]
    )

    probes.reference_s(spark)  # untimed: lets the JIT compile it first
    refs = [probes.reference_s(spark)]
    passes: list[Pass] = []
    first = probes.hygiene(spark)
    conf_keys: set[str] = set()
    t_begin = time.perf_counter()
    min_passes = 2 if args.trace else 1
    while True:
        pid = len(passes)
        traced = bool(args.trace) and pid % 2 == 1
        tracer.enabled, tracer.pass_id = traced, pid
        if traced and listener:
            listener.events.clear()
            spark.streams.addListener(listener)
        before = probes.hygiene(spark)
        j0, t0 = store.next_job(), time.perf_counter()
        ops = wl.run_pass(run)
        p = Pass(pid, traced, time.perf_counter() - t0, ops, (j0, store.next_job()))
        if traced:
            store.drain()
            if listener:
                spark.streams.removeListener(listener)
            p.layers = layer_metrics(run, p, cores, listener.events if listener else [])
        conf_keys |= probes.conf_changes(before, probes.hygiene(spark))
        passes.append(p)
        refs.append(probes.reference_s(spark))
        done = time.perf_counter() - t_begin
        if len(passes) >= min_passes and (
            args.smoke or done + statistics.median(q.seconds for q in passes) > args.seconds
        ):
            break
    tracer.enabled = False
    last = probes.hygiene(spark)
    session = {
        "session.leaked_tables": float(len(last.tables - first.tables)),
        "session.leaked_persists": float(max(0, last.persists - first.persists)),
        "session.conf_drift": float(len(conf_keys)),
        "session.jvm_peak_rss_mb": probes.jvm_peak_rss_mb(spark),
    }

    t0 = time.perf_counter()
    checked, bad = wl.check(run)
    check_s = time.perf_counter() - t0
    untraced = [p for p in passes if not p.traced]
    # a run whose operations all failed still reports (correct: false)
    op_s = [o.seconds for p in untraced for o in p.ops if o.ok] or [p.seconds for p in untraced]
    all_ops = warm_ops + [o for p in passes for o in p.ops]
    attempted = len(all_ops) + checked
    failed = sum(1 for o in all_ops if not o.ok) + len(bad)
    pass_s = statistics.fmean(p.seconds for p in untraced)
    # how much faster than nominal the host ran, by both references
    speed = statistics.geometric_mean(
        nominal / statistics.median(r[k] for r in refs) for k, nominal in REF_NOMINAL_S.items()
    )
    norm_pass_s = pass_s * speed
    f1 = getattr(wl, "f1", [])
    if args.trace:
        traced_passes = [p for p in passes if p.traced]
        values = {
            k: statistics.median(p.layers.get(k, 0.0) for p in traced_passes) for k in PER_LAYER
        }
        values.update(setup)
        values.update(session)
        values["ml.model_f1_min"] = min(f1) if f1 else 0.0
        values["trace.overhead_s"] = (
            statistics.fmean(p.seconds for p in traced_passes) - pass_s
        )
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
        write_trace(args, run, passes, values)
    else:
        values = {
            "setup_s": setup_s,
            "norm_pass_s": norm_pass_s,
            "norm_rows_per_s": wl.input_rows() / norm_pass_s,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "load_factor_1m": probes.load_factor(),
        "passes": [round(p.seconds, 4) for p in passes],
        "pass_s": pass_s,
        "rows_per_s": wl.input_rows() / pass_s,
        "ref_s": {k: [round(r[k], 5) for r in refs] for k in REF_NOMINAL_S},
        "host_speed": speed,
        "op_samples": len(op_s),
        "op_p50_s": statistics.median(op_s),
        "op_tail_s": tail(op_s) if len(op_s) > 1 else max(op_s),
        "op_median_s": {
            name: round(statistics.median(o.seconds for p in untraced for o in p.ops if o.name == name), 4)
            for name in dict.fromkeys(o.name for p in untraced for o in p.ops)
        },
        "op_tail_pct": TAIL_PCT,
        "failed_ratio": failed / attempted,
        "model_f1_min": min(f1) if f1 else None,
        "failures": run.failures + bad,
        "check_s": round(check_s, 4),
        **{k: round(v, 4) for k, v in {**setup, **session}.items()},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


def write_trace(args, run, passes: list[Pass], values: dict) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "spans": [dataclasses.asdict(s) for s in run.tracer.spans],
        "passes": [
            {"id": p.id, "traced": p.traced, "seconds": p.seconds, "jobs": p.jobs, "layers": p.layers}
            for p in passes
        ],
        "metrics": values,
    }
    with open(os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(doc, f)


def stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # the JVM inherits fd 1: send everything to stderr and keep the real
    # stdout for the two result lines
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result, detail = bench(args, work)
        detail["process_s"] = round(time.monotonic() - PROCESS_START, 4)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.write(real_stdout, (json.dumps(detail) + "\n" + json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
