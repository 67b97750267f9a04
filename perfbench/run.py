"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_mask_pipeline --seed 1 --seconds 6 --trace 0

Runs one workload on ``local[<cores>]`` from this single driver process,
checks its outputs outside the timed region and prints, as the last line of
standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run (untraced and traced
operations alternate; the difference is the tracing overhead).
Exits 0 only when every output is correct. Everything it writes lives under
``.perfbench_work/`` in the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "arc_maskdata_pipeline_plugin_spark"
SETUPS = 3
END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_ms", "ms"),
)
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the engine; engine knobs keep their defaults."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def session_factory(app: str, nproc: int, work: str):
    from arc_maskdata_pipeline_plugin_spark import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }

    def make():
        spark = get_spark(app, master=f"local[{nproc}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    return make


def warm_action(spark, nproc: int) -> None:
    """The set-up's one action: a masked projection on every core."""
    spark.range(0, 20_000, 1, nproc).selectExpr(
        "mask_string(16, true, CAST(id AS STRING)) AS m"
    ).write.format("noop").mode("overwrite").save()


def set_up(run, wl, times: dict) -> None:
    t0 = time.perf_counter()
    run.spark = run.spark_factory()
    t1 = time.perf_counter()
    wl.register(run, run.spark)
    t2 = time.perf_counter()
    warm_action(run.spark, run.nproc)
    times["setup_s"].append(time.perf_counter() - t0)
    times["session.get_spark_s"].append(t1 - t0)
    times["functions.register_udfs_s"].append(t2 - t1)


def stop_jvm() -> None:
    """Stop the session, then the gateway JVM, and wait for it and the
    Python workers it started to exit."""
    from pyspark import SparkContext

    from perfbench.trace import alive, descendants

    started = descendants(os.getpid())
    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not stop is killed
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def measure(run, wl, seconds: float) -> tuple[list, float]:
    """Run operations for ``seconds``; returns samples and wall time."""
    samples, wall = [], 0.0
    deadline = time.perf_counter() + seconds
    n_ops = 0
    while not n_ops or time.perf_counter() < deadline:
        run.tracer.op_id = n_ops = n_ops + 1
        t0 = time.perf_counter()
        with run.tracer.span("op"):
            samples += wl.op(run)
        wall += time.perf_counter() - t0
    return samples, wall


def measure_traced(run, wl, seconds: float) -> tuple[list, list, float]:
    """Alternate untraced and traced operations in ABBA blocks (at least
    one block), so the drift of a warming session cancels out of the
    tracing overhead. Returns untraced samples, traced samples and the
    traced operations' wall time."""
    from perfbench.trace import STREAM_DURATIONS, CodecCounters

    run.counters = CodecCounters(run.spark.sparkContext)
    first_batch = run.progress.count()
    plain, traced, wall = [], [], 0.0
    deadline = time.perf_counter() + seconds
    n_ops = 0
    while n_ops % 4 or time.perf_counter() < deadline:
        on = n_ops % 4 in (1, 2)
        if on:
            wl.register_counting(run)
        else:
            wl.register(run, run.spark)
        run.tracer.enabled = on
        run.tracer.op_id = n_ops = n_ops + 1
        t0 = time.perf_counter()
        with run.tracer.span("op"):
            got = wl.op(run)
        if on:
            wall += time.perf_counter() - t0
            traced += got
        else:
            plain += got
    run.tracer.enabled = False
    # durationMs is measured inside the engine, so every batch counts
    for b in run.progress.batches[first_batch:]:
        for metric, key in STREAM_DURATIONS.items():
            run.sample(metric, b["durations"].get(key, 0))
    return plain, traced, wall


def end_to_end(samples, wall, setup_times) -> dict:
    from perfbench.trace import median

    return {
        "setup_s": median(setup_times),
        "rows_per_s": sum(r for _, r in samples) / wall,
        "op_p50_ms": 1e3 * median([s for s, _ in samples]),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    pin_environment(work)
    try:
        return bench(args, work)
    except Exception:  # noqa: BLE001 - report, clean up and fail
        traceback.print_exc()
        return 2
    finally:
        try:
            stop_jvm()
            log("stopped")
        finally:
            shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str) -> int:
    from perfbench import workloads
    from perfbench.trace import RssSampler, Tracer, tail

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=False)
    run = workloads.Run(
        session_factory(f"perfbench-{args.workload}", nproc, work), nproc, work, args.seed, tracer
    )
    wl = workloads.WORKLOADS[args.workload]()
    sizes = wl.generate(run)
    log("inputs generated")

    setup_times = {"setup_s": [], "session.get_spark_s": [], "functions.register_udfs_s": []}
    errors: list[str] = []
    for i in range(SETUPS):
        if i:
            run.spark.stop()
        set_up(run, wl, setup_times)
        log(f"set-up {i} done")
    errors += wl.warm(run)
    log("warm-up done")
    # Peak memory of the measured region only: start it from a collected
    # JVM heap, so the heap the set-ups and warm-up left behind is not counted.
    run.spark.sparkContext._jvm.System.gc()
    with RssSampler() as rss:
        if args.trace:
            plain, samples, wall = measure_traced(run, wl, args.seconds)
        else:
            samples, wall = measure(run, wl, args.seconds)
    log("measured")
    errors += wl.check(run)
    log("checked")
    n_ops = len(samples) + (len(plain) if args.trace else 0)
    e2e = end_to_end(samples, wall, setup_times["setup_s"])
    latencies = [s for s, _ in samples]

    print(f"workload {args.workload} seed {args.seed} local[{nproc}]")
    for k, v in sizes.items():
        print(f"  input.{k} = {v}")
    print(f"  samples = {len(samples)} (one per {wl.unit}) over {wall:.2f} s:"
          f" {[round(s * 1e3) for s in latencies]} ms")
    for name, unit in END_TO_END:
        print(f"  {name} = {e2e[name]:.6g} {unit}")
    print(f"  peak_rss_mb = {rss.peak / (1 << 20):.6g} MB (measured region)")
    t = tail(latencies)
    print(
        f"  op_tail_ms = {t[0] * 1e3:.6g} ms (p{t[1]:.0f}, {len(latencies)} samples)"
        if t
        else f"  op_tail_ms = n/a ({len(latencies)} samples; a tail needs at least 11)"
    )
    attempted = n_ops + 1  # every timed op, plus the correctness check
    failed = 1 if errors else 0
    print(f"  failed_ops_ratio = {failed / attempted:.6g} ({failed}/{attempted})")
    for e in errors[:20]:
        print(f"  CHECK FAILED: {e}")
    print(f"  correct = {not errors}")

    if args.trace:
        metrics = layer_metrics(run, wl, setup_times, samples, plain)
        tracer.write(os.path.join(work, "spans.jsonl"))
        spans_out = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl")
        shutil.copy(os.path.join(work, "spans.jsonl"), spans_out)
        print(f"  spans written to {os.path.relpath(spans_out, ROOT)}")
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    print(
        json.dumps(
            {"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if not errors else 1


def layer_metrics(run, wl, setup_times, traced, plain) -> dict:
    from perfbench.trace import median
    from perfbench.workloads import PER_LAYER

    values = {k: 0.0 for k in PER_LAYER}
    values["session.get_spark_s"] = median(setup_times["session.get_spark_s"])
    values["functions.register_udfs_s"] = median(setup_times["functions.register_udfs_s"])
    for name, vals in run.layer_samples.items():
        if name in values:
            values[name] = median(vals)
    values.update(wl.layers(run))
    values["trace.overhead_ms"] = 1e3 * (
        median([s for s, _ in traced]) - median([s for s, _ in plain])
    )
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
