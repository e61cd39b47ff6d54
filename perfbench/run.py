"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 14 \
        --trace 0

Runs one workload (``cdc_live``, ``backfill`` or ``query_mix``, see
README.md) against the engine in this checkout on ``local[<cores>]``,
checks its outputs against DuckDB oracles, prints a human-readable report
and, as the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics listed in BENCHMARK.json;
``--trace 1`` records spans and Spark's job records and reports the
per-layer metrics instead, writing the spans to ``perfbench/out/``.

Everything the run writes (fixtures, sinks, checkpoints, Spark scratch
space) lives under one directory in ``perfbench/.work/`` that is removed
at exit.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = os.path.join(ROOT, "mongo_to_clickhouse_spark")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("cdc_live", "backfill", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Point every scratch location at ``work`` before Spark starts, and
    put the repository root on the Python workers' path (``mapInArrow``
    kernels unpickle engine functions by module name)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # tests/ holds oracle_harness, the query checks' comparator
    sys.path[:0] = [ROOT, BENCH_DIR, os.path.join(ROOT, "tests")]


def start_session(work: str):
    """The engine's own session (its default driver heap included), with
    Spark's scratch space under ``work``."""
    from mongo_to_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    })
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still running: force it
            proc.kill()
            proc.wait(timeout=30)


def report(args, outcome, spec, tracer) -> dict:
    import stats

    lat = stats.latency_summary(outcome.latencies)
    e2e = {
        "setup_s": outcome.setup_s,
        "latency_p50_s": lat["p50"],
        "latency_p90_s": lat["tail"],
        "peak_rss_mb": outcome.peak_rss_mb,
    }
    error_rate = outcome.failed / max(outcome.attempted, 1)
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"cores={os.environ['SPARK_GRAFT_CPUS']}")
    print(f"# samples={lat['n']} tail percentile=p{lat['tail_pct']:g}")
    print("# latency samples (s): "
          + " ".join(f"{x:.3f}" for x in outcome.latencies))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    for name, value in e2e.items():
        print(f"{name:<24} {value:>14.4f} {units.get(name, '')}")
    print(f"{'error_rate':<24} {error_rate:>14.4f} ratio")
    for name, value in outcome.info.items():
        print(f"{name:<24} {value:>14.4f}" if isinstance(value, float)
              else f"{name:<24} {value!s:>14}")
    for problem in outcome.problems:
        print(f"! {problem}")
    if outcome.invalid:
        print(f"! run invalid: {outcome.invalid}")
    if not tracer.enabled:
        return e2e
    # operations of this run measured both untraced and traced (see
    # workloads.Run.modes): the difference of their median latencies is
    # what tracing (spans, job groups, status-store reads) adds per operation
    untraced = stats.latency_summary(outcome.untraced_latencies)
    layers = dict(outcome.layers)
    layers["trace.overhead_s"] = lat["p50"] - untraced["p50"]
    layers["trace.latency_p50_s"] = lat["p50"]
    layers["trace.untraced_latency_p50_s"] = untraced["p50"]
    layers["trace.records_read_s"] = (tracer.records_read_s
                                      / max(outcome.attempted, 1))
    for name in sorted(layers):
        print(f"{name:<44} {layers[name]:>16.6f}")
    path = os.path.join(BENCH_DIR, "out",
                        f"trace-{args.workload}-seed{args.seed}.json")
    tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                       "end_to_end": e2e, "layers": layers})
    print(f"# spans written to {path}")
    return layers


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PACKAGE):
        print(f"engine package not found next to the benchmark: {PACKAGE}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(BENCH_DIR, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    spark = None
    try:
        prepare_environment(work)
        import stats
        import workloads
        from tracing import NullTracer, Tracer

        spec = stats.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
        tracer = Tracer() if args.trace else NullTracer()
        t = time.perf_counter()
        with tracer.span("session.start", op="setup"):
            spark = start_session(work)
        startup_s = time.perf_counter() - t
        run = workloads.Run(spark=spark, work=work, seed=args.seed,
                            seconds=args.seconds, tracer=tracer,
                            startup_s=time.perf_counter() - PROCESS_T0)
        try:
            outcome = workloads.WORKLOADS[args.workload](run)
        except Exception as exc:  # noqa: BLE001 — reported, not a crash
            # the workload stopped part way: nothing it measured can be
            # trusted, so the run counts as one failed operation
            traceback.print_exc()
            outcome = workloads.Outcome(
                setup_s=0.0, latencies=[], attempted=1, failed=1,
                peak_rss_mb=0.0,
                problems=[f"workload stopped: {type(exc).__name__}: "
                          f"{str(exc)[:300]}"])
        outcome.layers["session.start_s"] = startup_s
        outcome.info.update({"session_start_s": startup_s,
                             "fixture_s": run.fixture_s})
        values = report(args, outcome, spec, tracer)
        listed = stats.spec_metric_names(spec, bool(args.trace))
        correct = not outcome.problems and outcome.invalid is None
        if correct:
            values = {k: v for k, v in values.items() if k in listed}
        else:
            # a run that failed before measuring some layers still reports
            # every listed metric, so its result line can be printed
            values = {k: values.get(k, 0.0) for k in listed}
        metrics = stats.result_metrics(spec, bool(args.trace), values)
        result = {"correct": correct, "attempted": outcome.attempted,
                  "failed": outcome.failed, "metrics": metrics}
    finally:
        try:
            if spark is not None:
                from mongo_to_clickhouse_spark.io import clear_work_dir_cache

                clear_work_dir_cache()
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
