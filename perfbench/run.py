#!/usr/bin/env python3
"""BELIEF fit benchmark: one ``ReliefFSelector.fit`` at a time, closed loop.

Run from the repository root:

    python3 perfbench/run.py --workload dense_knn --seed 1 --seconds 16 --trace 0

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run that prints the per-layer
metrics (see perfbench/README.md for the layer map). Human-readable
lines go first; the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: local[N] parallelism: at most 4 cores, never more than the host has
CORES = max(1, min(4, os.cpu_count() or 1))
#: set-ups per run; the first launches the JVM, setup_s is the median of the rest
SETUPS = 6
#: timed fits per run at least, however long they take
MIN_FITS = 3
#: transforms timed after the timed fits; transform_s is their median
TRANSFORMS = 5
#: timed fits per session of the traced run
TRACE_REPS = 1


def prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # -XX:TieredStopAtLevel=1 keeps the JIT at its first tier. With the
    # default tiers a fresh JVM's fits keep speeding up for ~10 fits, far
    # past what one run can time, and where a run's timed fits fell on
    # that curve moved fit_s by ~30% between runs. With the first tier
    # only, fit times are flat from the second fit on. This option is
    # added to the JVM's options, so the engine's own (GC, metaspace)
    # stay as get_spark sets them.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # One BLAS thread per process: local[N] already runs N Python workers,
    # and their numpy kNN kernels would otherwise oversubscribe the cores.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def base_conf() -> dict[str, str]:
    return {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}


# ---------------------------------------------------------------- host


def canary(spark) -> float:
    """A fixed tiny Spark job plus a fixed numpy matmul: the median of
    three timed calls after an untimed one."""
    import numpy as np

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=CORES).selectExpr(
            "sum(id % 7) as s"
        ).collect()
        a = np.arange(512 * 512, dtype=np.float64).reshape(512, 512) / (512 * 512)
        for _ in range(8):
            a = (a @ a.T) / 512.0
        return time.perf_counter() - t0

    once()  # the first call plans and compiles the job
    return median([once() for _ in range(3)])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def shutdown_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has ended.
    The JVM's Python workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- stats


def median(xs: list[float]) -> float:
    """The median; 0 when there is nothing to take it of (a run whose
    fits all failed, which also reports correct=false)."""
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return f"n/a (needs >= 11 samples, have {n})"
    s = sorted(xs)
    return f"p{100.0 * (n - 10) / n:.0f}={s[n - 11]:.4f}"


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )


# ---------------------------------------------------------------- runs


def checked_fit(w, df, checker, timer: list[float] | None = None):
    """One fit, timed into ``timer`` when given; the output check runs
    after the clock stops. Returns the model, or None if the fit raised."""
    import workloads

    t0 = time.perf_counter()
    try:
        model = workloads.fit(w, df)
    except Exception as e:  # a failed fit is a measured outcome
        checker.fail(f"fit raised {e!r}")
        return None
    if timer is not None:
        timer.append(time.perf_counter() - t0)
    checker.check(model)
    return model


def check_oracle(model, expected, checker) -> None:
    import checks

    err = checks.oracle_error(model, expected)
    print(f"oracle: max |relevance - oracle| = {err:.3e} (limit {checks.ORACLE_ATOL:g})")
    if not err <= checks.ORACLE_ATOL:
        checker.flag(f"relevance differs from the oracle by {err:.3e}")


def setup(data, conf: dict[str, str]):
    """One set-up: get_spark plus loading and caching the input."""
    import workloads
    from spark_relieffc_fselection_spark import get_spark

    spark = get_spark(extra_conf=conf)
    return spark, workloads.load(spark, data)


def warm_up(w, df, checker, fits: int = 1):
    """``fits`` untimed fits and a transform. The first pays the
    session's one-off costs (code generation, Python worker start); the
    rest absorb what is left of the warm-up. A failed fit is
    counted by the checker; returns the last good model, or None."""
    import workloads

    model = None
    for _ in range(fits):
        model = checked_fit(w, df, checker) or model
    if model is not None:
        workloads.transform(model, df)
    return model


def timed_run(w, seed: int, seconds: float, size: str) -> None:
    import checks
    import workloads

    data = w.make(seed, size)
    checker = checks.FitChecker(data.informative, workloads.RECALL_FLOOR)
    setup_s: list[float] = []
    spark = None
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        # The numpy oracle overlaps the first set-up, which mostly waits
        # for the JVM to launch, and is done before the second starts.
        expected = (
            pool.submit(checks.oracle_weights, data.X, data.y, w.params["numNeighbors"])
            if w.oracle
            else None
        )
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark, df = setup(data, base_conf())
            setup_s.append(time.perf_counter() - t0)
            if expected is not None:
                expected.result()
            if i < SETUPS - 1:
                df.unpersist()
                spark.stop()
        t0 = time.perf_counter()
        model = warm_up(w, df, checker, w.warm_fits)
        warm_up_s = time.perf_counter() - t0
        if expected is not None and model is not None:
            check_oracle(model, expected.result(), checker)
        canary_start = canary(spark)

        fit_s: list[float] = []
        reps = 0
        t_start = time.perf_counter()
        while reps < MIN_FITS or time.perf_counter() - t_start < seconds:
            reps += 1
            model = checked_fit(w, df, checker, fit_s) or model
        measured_s = time.perf_counter() - t_start
        transform_s: list[float] = []
        if model is not None:
            for _ in range(TRANSFORMS):
                t0 = time.perf_counter()
                workloads.transform(model, df)
                transform_s.append(time.perf_counter() - t0)
        canary_end = canary(spark)
        jvm_mb, py_mb = vm_hwm_mb(jvm_pid(spark)), vm_hwm_mb("self")
    finally:
        pool.shutdown(wait=True)
        if spark is not None:
            shutdown_spark(spark)

    recall = min(checker.recalls) if checker.recalls else 0.0
    warm = setup_s[1:]
    print(f"workload {w.name}  seed {seed}  local[{CORES}]  closed loop, 1 client")
    print(f"fit_s          median {median(fit_s):.4f} s over {len(fit_s)} reps in {measured_s:.1f} s; tail {tail(fit_s)}; {[round(x, 3) for x in fit_s]}")
    print(f"transform_s    median {median(transform_s):.4f} s over {len(transform_s)} reps (one-job floor; printed, not bounded)")
    print(f"setup_s        median {median(warm):.4f} s over {len(warm)} set-ups in a running JVM {[round(x, 3) for x in warm]}; JVM-launching set-up {setup_s[0]:.3f} s")
    print(f"warm-up        {warm_up_s:.4f} s ({w.warm_fits} untimed fits and a transform, in no metric)")
    print(f"host.peak_rss_mb {jvm_mb + py_mb:.1f} MB = JVM {jvm_mb:.1f} + driver Python {py_mb:.1f} (VmHWM; per-layer only)")
    print(f"selection_recall {recall:.3f} (floor {workloads.RECALL_FLOOR})")
    print(f"fit_error_rate {checker.failed}/{checker.attempted} = {checker.failed / max(1, checker.attempted):.3f}")
    print(f"host.canary_s  start {canary_start:.4f} s  end {canary_end:.4f} s")
    for p in checker.problems:
        print(f"FAILED CHECK: {p}")
    emit(
        checker.failed == 0 and bool(fit_s),
        checker.attempted,
        checker.failed,
        {
            "fit_s": (median(fit_s), "s"),
            "setup_s": (median(warm), "s"),
            "selection_recall": (recall, "ratio"),
        },
    )


def traced_fits(w, df, checker, tracer, reps: int):
    """``reps`` timed fits, each call inside its span when a tracer is
    given. Returns the fit times and the last good model (or None)."""
    from contextlib import nullcontext

    import workloads

    span = tracer.span if tracer is not None else (lambda name: nullcontext())
    times: list[float] = []
    model = None
    for _ in range(reps):
        t0 = time.perf_counter()
        try:
            binned = df
            if w.bins is not None:
                with span("discretizer.quantile_discretize"):
                    binned = workloads.discretize(w, df)
            with span("estimator.fit"):
                m = workloads.selector(w).fit(binned)
        except Exception as e:  # a failed fit is a measured outcome
            checker.fail(f"fit raised {e!r}")
            continue
        times.append(time.perf_counter() - t0)
        checker.check(m)
        model = m
    return times, model


def traced_run(w, seed: int, size: str) -> None:
    """Two sessions in one JVM: one untraced, one with the event log on
    and a job group per span. Which comes first alternates with the
    seed's parity, so the JIT warming that favours the later session
    cancels in a median of trace.overhead_s across seeds."""
    import checks
    import layers
    import trace
    import workloads
    from spark_relieffc_fselection_spark import get_spark

    data = w.make(seed, size)
    checker = checks.FitChecker(data.informative, workloads.RECALL_FLOOR)
    log_dir = os.path.join(WORK, "eventlog")
    order = (False, True) if seed % 2 else (True, False)
    times: dict[bool, list[float]] = {}
    spark = None
    try:
        for i, traced in enumerate(order):
            conf = base_conf()
            if traced:
                conf.update(trace.event_log_conf(log_dir))
            t0 = time.perf_counter()
            spark = get_spark(extra_conf=conf)
            if i == 0:
                get_spark_s = time.perf_counter() - t0  # launches the JVM
            df = workloads.load(spark, data)
            fallback = None
            if i == 0:
                # the second session runs in the same, already warm JVM
                fallback = warm_up(w, df, checker)
                canary_start = canary(spark)
            tracer = trace.Tracer(spark.sparkContext) if traced else None
            times[traced], model = traced_fits(w, df, checker, tracer, TRACE_REPS)
            if traced:
                traced_model = model if model is not None else fallback
                if traced_model is not None:
                    with tracer.span("estimator.transform"):
                        workloads.transform(traced_model, df)
                counts = layers.decompose_dense(spark, tracer, w, df, data)
                replay = (counts.pop("std_selection"), counts.pop("redundancy_selection"))
                if w.sparse_pass:
                    counts.update(layers.decompose_sparse(spark, tracer, seed, size))
                spans = tracer.spans
                app_id = spark.sparkContext.applicationId
            if i == len(order) - 1:
                canary_end = canary(spark)
                rss = vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb("self")
            else:
                df.unpersist()
                spark.stop()
    finally:
        if spark is not None:
            shutdown_spark(spark)

    counts["peak_rss_mb"] = rss
    trace.write_spans(spans, os.path.join(WORK, f"spans-{w.name}-{seed}.json"))
    # a finished (flushed, renamed) log is named after the application
    groups = trace.group_metrics(os.path.join(log_dir, app_id))
    metrics = layers.per_layer_metrics(
        spans, groups, counts, CORES,
        get_spark_s=get_spark_s,
        canary=(canary_start, canary_end),
        overhead_s=median(times[True]) - median(times[False]),
    )
    print(f"workload {w.name}  seed {seed}  local[{CORES}]  traced run")
    for name, (v, u) in metrics.items():
        print(f"{name:48s} {v:16.6g} {u}")
    if traced_model is not None:
        fit_sel = (
            [int(f) for f in traced_model.getOrDefault(traced_model.stdSelection)],
            [int(f) for f in traced_model.getOrDefault(traced_model.redundancySelection)],
        )
        same = "yes" if list(replay) == list(fit_sel) else f"NO: replay {replay}, fit {fit_sel}"
        print(f"layer replay selects what the fit selects: {same}")
    for p in checker.problems:
        print(f"FAILED CHECK: {p}")
    emit(checker.failed == 0, checker.attempted, checker.failed, metrics)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny shrinks the inputs for the self-test")
    args = ap.parse_args(argv)

    prepare_env()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    # fail fast, before any Spark work, when the engine is not importable
    import spark_relieffc_fselection_spark  # noqa: F401

    w = workloads.WORKLOADS[args.workload]
    try:
        if args.trace:
            traced_run(w, args.seed, args.size)
        else:
            timed_run(w, args.seed, args.seconds, args.size)
    finally:
        for sub in ("local", "eventlog", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
