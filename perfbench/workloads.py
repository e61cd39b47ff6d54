"""The three benchmark workloads and the layer probe of the traced run.

Each workload gets a ``Run`` (session, scratch directory, seed, tracer)
and returns an ``Outcome``. Only the engine's public functions are
called; the engine receives nothing but the generated fixture files.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import datagen
import oracle
from tracing import NullTracer, PhaseMonitor, SparkRecords, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UNTRACED = NullTracer()

# The fixture tables come from one fixed generator seed, so every run reads
# the same data and run-to-run differences are the engine's, not the
# data's. The run's --seed drives slice order, backfill windows and query
# order.
FIXTURE_SEED = 42

# cdc_live: the events table is cut into SLICES slices of SLICE_DOCS docs
SLICE_DOCS = 2_000
SLICES = 50
# one slice per tenant every 4 s: at 3 s the median latency went from 1.2 s
# in quiet periods of a shared 4-core host to 2.4-3.4 s in busy ones, as
# the streams fell behind; at 2 s they saturated even in a quiet period
LAND_INTERVAL_S = 4.0
# a generator that lands a slice later than this behind schedule makes the
# run invalid: its latencies would no longer describe the offered load
MAX_LATE_S = 0.5
COMMIT_TIMEOUT_S = 60.0
# micro-batches per tenant run during set-up: the first batches of a fresh
# JVM run up to twice as slow as later ones while code is compiled
WARM_BATCHES = 5

# backfill: seeded windows of WINDOW_DAYS over the 5x fixture that
# scripts/gen_scale_fixture.py makes from the generated sf0.1 tables
BACKFILL_REPS = 5
WINDOW_DAYS = 6
BACKFILL_WARMUP = 2

# query_mix: resident session over the sf0.01 fixture
QUERY_SF = 0.01
# after the cold pass: with 2 warm passes the first 2-3 timed passes were
# still 15-30% slower than the rest, and the spread over seeds was 0.17;
# with 4, 0.12, for ~3 s more set-up
QUERY_WARM_PASSES = 4
# one id per layer the workload is for: Catalyst plans and shuffles (a
# multi-way join), an Arrow kernel, an iterative operator with its barrier
# cache. With five ids (adding sink_clickhouse_insert and join_asof) a run
# took ~5 s longer and timed only 2-4 passes, and its spread over ten
# seeds was no smaller
QUERY_IDS = (
    "tpch_q5_local_supplier_volume", "emb_covariance_matmul", "graph_pagerank",
)


@dataclass
class Run:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object
    startup_s: float
    fixture_s: float = 0.0
    records: SparkRecords | None = None
    # the timed phase's modes (traced or not): a traced run measures
    # operations both untraced and traced, and reports the difference of
    # their median latencies as the tracing overhead
    modes: tuple[bool, ...] = (False,)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        if self.tracer.enabled:
            self.records = SparkRecords(self.spark)
            self.modes = (False, True)


@dataclass
class Outcome:
    setup_s: float
    # latency samples of the timed operations; in a traced run those of
    # the traced ones, with the untraced ones in ``untraced_latencies``
    latencies: list[float]
    attempted: int
    failed: int
    peak_rss_mb: float
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    invalid: str | None = None
    untraced_latencies: list[float] | None = None


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _tenant(work: str, name: str, source: str):
    from mongo_to_clickhouse_spark.config import TenantConfig

    base = os.path.join(work, name)
    return TenantConfig(
        name=name, source_path=source,
        sink_main_path=os.path.join(base, "main"),
        sink_optout_path=os.path.join(base, "optout"),
        checkpoint_path=os.path.join(base, "checkpoint"),
        dlq_path=os.path.join(base, "dlq"),
        flush_seconds=0,
    )


# --------------------------------------------------------------- probes

def layer_probe(run: Run, fixture: str, ts_range=None,
                event_ids: tuple[int, int] | None = None) -> dict:
    """Per-layer costs of the flagship pipeline on one input, measured from
    outside. Each prefix of the chain is materialized through the noop
    sink (median of three runs after one warm-up run):

    - ``scan``: the input events;
    - ``actor_join``: ``statements_from_events``;
    - ``anonymize``: ``anonymized_statements``;
    - ``route``: both outputs of ``route_split``, written one after the
      other as ``insert_batch`` writes them.

    A step's self time is the difference between consecutive prefixes.
    ``optout_dim`` is ``optout_active(optout_dim(customer))`` on its own.
    ``sinks.writers.insert_batch`` then writes the input to scratch sinks.
    """
    from pyspark.sql import functions as F

    from mongo_to_clickhouse_spark.io import load_table
    from mongo_to_clickhouse_spark.plans.pipeline import (
        anonymized_statements, optout_active, optout_dim, route_split,
        statements_from_events)
    from mongo_to_clickhouse_spark.sinks.writers import insert_batch

    spark, tracer = run.spark, run.tracer
    customer = load_table(spark, fixture, "customer")

    def events():
        ev = load_table(spark, fixture, "events", ts_range=ts_range)
        if event_ids is not None:
            ev = ev.filter(F.col("event_id").between(*event_ids))
        return ev

    def anon():
        return anonymized_statements(statements_from_events(events(),
                                                            customer))

    def active():
        return optout_active(optout_dim(customer))

    steps = {
        "scan": lambda: [events()],
        "actor_join": lambda: [statements_from_events(events(), customer)],
        "anonymize": lambda: [anon()],
        "optout_dim": lambda: [active()],
        "route": lambda: list(route_split(anon(), active())),
    }
    cost = {}
    with tracer.span("probe", op="probe"):
        for name, build in steps.items():
            samples = []
            for rep in range(4):
                t = time.perf_counter()
                with tracer.span(f"pipeline.{name}.prefix", op="probe"):
                    for df in build():
                        df.write.format("noop").mode("overwrite").save()
                if rep:
                    samples.append(time.perf_counter() - t)
            cost[name] = statistics.median(samples)

        tenant = _tenant(os.path.join(run.work, "probe"), "probe", fixture)
        insert_s, attempts = [], []
        for rep in range(4):
            t = time.perf_counter()
            with tracer.span("sinks.insert_batch", op="probe"):
                attempts.append(insert_batch(anon(), rep, tenant, active()))
            if rep:
                insert_s.append(time.perf_counter() - t)
        shutil.rmtree(os.path.join(run.work, "probe"), ignore_errors=True)

        load_s = []
        for _ in range(2):
            for name in ("events", "customer"):
                t = time.perf_counter()
                with tracer.span("io.load_table", op="probe"):
                    load_table(spark, fixture, name)
                load_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("io.scan", op="probe"):
            load_table(spark, fixture, "events").write.format("noop").mode(
                "overwrite").save()
        scan_s = time.perf_counter() - t

    return {
        "io.load_table_s": statistics.median(load_s),
        "io.scan_s": scan_s,
        "pipeline.scan_s": cost["scan"],
        "pipeline.actor_join_s": cost["actor_join"] - cost["scan"],
        "pipeline.anonymize_s": cost["anonymize"] - cost["actor_join"],
        "pipeline.optout_dim_s": cost["optout_dim"],
        "pipeline.route_s": cost["route"] - cost["anonymize"],
        "pipeline.prefix_total_s": cost["route"],
        "sinks.insert_batch_s": statistics.median(insert_s),
        "sinks.attempts": max(attempts),
    }


def backfill_probe(run: Run, fixture: str) -> dict:
    """``plans.backfill.run_backfill`` over one seeded WINDOW_DAYS window
    of the workload's own fixture: median wall time of three calls after
    one warm-up call, and the call's document counts."""
    from mongo_to_clickhouse_spark.plans.backfill import run_backfill

    window = backfill_window(run.rng)
    tenant = _tenant(os.path.join(run.work, "probe-backfill"), "probe",
                     fixture)
    samples, stats = [], None
    for rep in range(4):
        t = time.perf_counter()
        with run.tracer.span("backfill.call", op="probe"):
            stats = run_backfill(run.spark, tenant, fixture, *window)
        if rep:
            samples.append(time.perf_counter() - t)
    shutil.rmtree(os.path.join(run.work, "probe-backfill"), ignore_errors=True)
    return {"backfill.call_s": statistics.median(samples),
            "backfill.processed_docs": stats.processed_docs,
            "backfill.failed_docs": stats.failed_docs}


def backfill_window(rng: random.Random) -> tuple[str, str]:
    """A WINDOW_DAYS window at a seeded minute of the events' 30 days, in
    the backfill CLI's ``%Y-%m-%dT%H:%M`` format."""
    from mongo_to_clickhouse_spark.plans.backfill import TIME_FMT

    start = datagen.EVENTS_START + timedelta(minutes=rng.randrange(
        0, (datagen.EVENTS_DAYS - WINDOW_DAYS) * 24 * 60))
    end = start + timedelta(days=WINDOW_DAYS)
    return start.strftime(TIME_FMT), end.strftime(TIME_FMT)


def spark_layers(run: Run, ops: list[dict]) -> dict:
    """Per-operation Spark figures. Each op is ``{"jobs": [ids], "start":
    epoch, "end": epoch}``; driver time is the part of the op's wall time
    that none of its jobs covers."""
    totals = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
              "shuffle_write_bytes": 0, "executor_run_s": 0.0,
              "executor_cpu_s": 0.0, "gc_s": 0.0}
    driver = []
    for op in ops:
        s = run.records.summarize(op["jobs"])
        for k in totals:
            totals[k] += s[k]
        lo, hi = op["start"], op["end"]
        covered = union_length((max(a, lo), min(b, hi))
                               for a, b in s["intervals"])
        driver.append(hi - lo - covered)
    n = max(len(ops), 1)
    out = {f"spark.{k}": v / n for k, v in totals.items()}
    out["spark.driver_s"] = statistics.median(driver) if driver else 0.0
    return out


def _timed_call(run: Run, op_index: int, fn, traced: bool):
    """Run ``fn`` as one operation; when ``traced``, inside a span and under
    its own job group. Returns (result, seconds, exception, op record)."""
    sc = run.spark.sparkContext
    group = f"op-{op_index}"
    tracer = run.tracer if traced else UNTRACED
    if traced:
        sc.setJobGroup(group, group)
    start_epoch = time.time()
    t = time.perf_counter()
    result, error = None, None
    try:
        with tracer.span("op", op=group):
            result = fn()
    except Exception as exc:  # noqa: BLE001 — a failed op counts in failed
        error = exc
    elapsed = time.perf_counter() - t
    op = None
    if traced:
        sc.setJobGroup("", "")
        tt = time.perf_counter()
        op = {"jobs": run.records.group_job_ids(group),
              "start": start_epoch, "end": start_epoch + elapsed}
        run.tracer.records_read_s += time.perf_counter() - tt
    return result, elapsed, error, op


def closed_loop(run: Run, one) -> tuple[dict, PhaseMonitor]:
    """The timed phase of a closed loop: ``one(traced)`` runs one pass or
    call and returns its seconds. Runs the number of whole operations that
    comes closest to ``run.seconds`` per mode; a traced run alternates
    untraced and traced operations, so both modes see the same warm-up
    state and host. Returns the seconds per mode and the phase's monitor."""
    samples = {mode: [] for mode in run.modes}
    budget = run.seconds * len(run.modes)
    done: list[float] = []
    with PhaseMonitor(_jvm_pid(run.spark)) as monitor:
        t0 = time.perf_counter()
        while len(done) < len(run.modes) or (
                time.perf_counter() - t0 + statistics.mean(done) / 2 <= budget):
            mode = run.modes[len(done) % len(run.modes)]
            done.append(one(mode))
            samples[mode].append(done[-1])
    return samples, monitor


# -------------------------------------------------------------- cdc_live

def cdc_live(run: Run) -> Outcome:
    """Open loop: two tenants on one session, each landing its next
    2,000-doc slice every LAND_INTERVAL_S seconds, half an interval apart.
    Latency runs from a slice's scheduled landing time to the mtime of its
    batch's opt-out ``_SUCCESS`` marker, written after both sinks."""
    import pyarrow.parquet as pq

    from mongo_to_clickhouse_spark.io import load_table
    from mongo_to_clickhouse_spark.streaming.pipeline import run_tenant_stream
    from mongo_to_clickhouse_spark.streaming.util import normalize_events_ts

    t = time.perf_counter()
    fixture = os.path.join(run.work, "fixture")
    datagen.write_fixture(fixture, FIXTURE_SEED, 0.1, ("customer", "events"))
    events = normalize_events_ts(
        pq.read_table(os.path.join(fixture, "events.parquet")))

    names = ("tenant_a", "tenant_b")
    # a seeded permutation of the slices per tenant; each slice lands at
    # most once per tenant. Staged files are written in landing order, so
    # the file source (which orders new files by mtime) sees that order.
    plans, staged = {}, {}
    offsets = land_offsets(names, run.seconds)
    for name in names:
        order = list(range(SLICES))
        run.rng.shuffle(order)
        plans[name] = order[: WARM_BATCHES
                            + len(offsets[name]) * len(run.modes)]
        src = os.path.join(run.work, name, "source")
        os.makedirs(src)
        stage_dir = os.path.join(run.work, name, "staging")
        os.makedirs(stage_dir)
        staged[name] = []
        for k, sl in enumerate(plans[name]):
            path = os.path.join(stage_dir, f"{k:03d}-slice{sl:02d}.parquet")
            pq.write_table(events.slice(sl * SLICE_DOCS, SLICE_DOCS), path)
            staged[name].append(path)
    run.fixture_s = time.perf_counter() - t

    spark, tracer = run.spark, run.tracer
    with tracer.span("io.load_table", op="setup"):
        customer = load_table(spark, fixture, "customer")
    tenants = {n: _tenant(run.work, n, os.path.join(run.work, n, "source"))
               for n in names}

    def land(name: str, k: int) -> str:
        src = staged[name][k]
        dst = os.path.join(tenants[name].source_path, os.path.basename(src))
        os.rename(src, dst)
        return dst

    def success_mtime(name: str, k: int) -> float | None:
        marker = os.path.join(tenants[name].sink_optout_path,
                              f"batch_id={k}", "_SUCCESS")
        try:
            return os.stat(marker).st_mtime
        except FileNotFoundError:
            return None

    def settle(pairs, timeout: float) -> None:
        """Wait until each (tenant, batch) is committed to both sinks or has
        gone to the tenant's DLQ, or until ``timeout`` seconds pass."""
        deadline = time.time() + timeout
        while time.time() < deadline and any(
                success_mtime(n, k) is None
                and not in_dlq(tenants[n], k) for n, k in pairs):
            time.sleep(0.01)

    # set-up: both streams running and their warm-up batches committed
    t_setup = time.perf_counter()
    queries = {}
    for name in names:
        for k in range(WARM_BATCHES):
            land(name, k)
        queries[name] = run_tenant_stream(spark, tenants[name], customer,
                                          available_now=False)
    warm = [(n, k) for n in names for k in range(WARM_BATCHES)]
    settle(warm, COMMIT_TIMEOUT_S)
    setup_s = run.startup_s + time.perf_counter() - t_setup
    unwarmed = [(n, k) for n, k in warm if success_mtime(n, k) is None]
    if unwarmed:
        for q in queries.values():
            q.stop()
        # nothing can be timed: every slice the run would land fails
        scheduled = sum(map(len, offsets.values())) * len(run.modes)
        return Outcome(
            setup_s=setup_s, latencies=[], attempted=scheduled,
            failed=scheduled, peak_rss_mb=0.0,
            problems=[f"{n}: warm-up batch {k} "
                      + ("went to the DLQ" if in_dlq(tenants[n], k)
                         else "never committed") for n, k in unwarmed])

    def timed_phase(first_k: dict[str, int]):
        """Land each tenant's slices at its offsets, from batch
        ``first_k[tenant]`` on, and wait until every landed batch settled.
        A tenant's batch ids stay contiguous across phases: the stream
        numbers its micro-batches, one per landed slice."""
        schedule = sorted((off, name, first_k[name] + i)
                          for name in names
                          for i, off in enumerate(offsets[name]))
        landed = []  # (name, k, scheduled epoch, actual epoch)
        origin = time.time() + 0.2

        def generator():
            for offset, name, k in schedule:
                due = origin + offset
                pause = due - time.time()
                if pause > 0:
                    time.sleep(pause)
                land(name, k)
                landed.append((name, k, due, time.time()))

        gen = threading.Thread(target=generator, name="slice-generator")
        with PhaseMonitor(_jvm_pid(spark)) as monitor:
            gen.start()
            gen.join()
            settle([(n, k) for n, k, _, _ in landed], COMMIT_TIMEOUT_S)
        latencies = [done - due for n, k, due, _ in landed
                     if (done := success_mtime(n, k)) is not None]
        return landed, latencies, origin, time.time(), monitor

    # a traced run measures the timed phase twice, the second time for the
    # traced figures; the streams are traced only from their progress
    # records, read after the run, so the two phases run alike
    phases = []
    first_k = dict.fromkeys(names, WARM_BATCHES)
    for _ in run.modes:
        phases.append(timed_phase(first_k))
        first_k = {n: k + len(offsets[n]) for n, k in first_k.items()}
    landed = [x for ph in phases for x in ph[0]]
    landed_last, latencies, origin, end_epoch, monitor = phases[-1]

    # the sinks are written before the batch is committed and reported:
    # let each stream finish its last batch before stopping it
    last = {n: max((k for m, k, _, _ in landed if m == n),
                   default=WARM_BATCHES - 1) for n in names}
    deadline = time.time() + COMMIT_TIMEOUT_S
    while time.time() < deadline and any(
            queries[n].lastProgress is None
            or queries[n].lastProgress.batchId < last[n] for n in names):
        time.sleep(0.02)
    for q in queries.values():
        q.stop()

    failed_ops = {(n, k) for n, k, _, _ in landed
                  if success_mtime(n, k) is None}
    late = max((actual - due for _, _, due, actual in landed), default=0.0)

    # progress records: Spark's own per-trigger accounting
    progress = {n: [p for p in queries[n].recentProgress
                    if p.numInputRows > 0 and p.batchId >= WARM_BATCHES]
                for n in names}
    # numInputRows counts every scan of the source, and the two sink writes
    # each scan the batch, so docs are counted from the slices instead
    docs = SLICE_DOCS * sum(len(ps) for ps in progress.values())
    busy = sum(p.durationMs.get("triggerExecution", 0)
               for ps in progress.values()
               for p in ps) / 1000.0

    # checks: per slice, the tenant's sinks against the oracle
    problems = []
    con = oracle.connect(fixture)
    for name in names:
        ks = list(range(WARM_BATCHES)) + [k for n, k, _, _ in landed
                                          if n == name]
        files = [os.path.join(tenants[name].source_path,
                              os.path.basename(staged[name][k])) for k in ks]
        oracle.set_events(con, files)
        res = oracle.check_sinks(con, tenants[name].sink_main_path,
                                 tenants[name].sink_optout_path)
        bad = res["main"] + res["optout"] + res["duplicates"]
        for ident in bad:
            sl = int(ident, 16) // SLICE_DOCS
            if sl in plans[name]:
                failed_ops.add((name, plans[name].index(sl)))
        problems += [f"{name}: {p}" for p in oracle.sink_problems(res)]
        dlq = oracle.dlq_batches(tenants[name].dlq_path)
        if dlq:
            problems.append(f"{name}: {dlq} batches in the DLQ")
            failed_ops.update((name, k) for n, k, _, _ in landed if n == name)

    out = Outcome(
        setup_s=setup_s, latencies=latencies, attempted=len(landed),
        failed=len({op for op in failed_ops if op[1] >= WARM_BATCHES}),
        peak_rss_mb=monitor.peak_mb, problems=problems,
        info={"gen.late_s": late, "slices_landed": len(landed),
              "docs_per_s": docs / busy if busy else 0.0,
              "cpu_steal_share": monitor.steal_share,
              "land_interval_s": LAND_INTERVAL_S},
    )
    if late > MAX_LATE_S:
        out.invalid = (f"generator fell {late:.3f} s behind schedule "
                       f"(limit {MAX_LATE_S} s)")

    if tracer.enabled:
        out.untraced_latencies = phases[0][1]
        out.layers = _cdc_layers(run, names, progress, landed_last, origin,
                                 end_epoch, tenants)
        out.layers["gen.late_s"] = late
        out.layers.update(layer_probe(run, fixture, event_ids=(
            plans[names[0]][0] * SLICE_DOCS,
            plans[names[0]][0] * SLICE_DOCS + SLICE_DOCS - 1)))
        out.layers.update(backfill_probe(run, fixture))
    return out


def land_offsets(names, seconds: float) -> dict[str, list[float]]:
    """Per tenant, the offsets (seconds into a timed phase) at which its
    slices land: one every LAND_INTERVAL_S, the second tenant half an
    interval behind the first, all before ``seconds``."""
    return {name: [off for i in range(math.ceil(seconds / LAND_INTERVAL_S))
                   if (off := (i + j / 2) * LAND_INTERVAL_S) < seconds]
            for j, name in enumerate(names)}


def in_dlq(tenant, batch_id: int) -> bool:
    """Whether ``batch_id`` of ``tenant``'s stream was written to its DLQ
    (``sinks.dlq``'s ``tenant=<name>/batch_id=<id>`` layout)."""
    return os.path.isdir(os.path.join(tenant.dlq_path, f"tenant={tenant.name}",
                                      f"batch_id={batch_id}"))


def _epoch(iso: str) -> float:
    """Epoch seconds of a progress record's UTC ``timestamp``."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _cdc_layers(run, names, progress, landed, origin, end_epoch, tenants):
    """stream.* from each tenant's progress records, laid out as spans:
    an op per slice (scheduled landing → commit), holding the wait until
    its trigger started and the trigger itself, whose children are
    Spark's reported phases in execution order."""
    tracer = run.tracer
    to_perf = time.perf_counter() - time.time()
    phases = (("stream.offsets", ("latestOffset", "getBatch")),
              ("stream.query_planning", ("queryPlanning",)),
              ("stream.add_batch", ("addBatch",)),
              ("stream.log_commit", ("walCommit", "commitOffsets")))
    by_batch = {(n, p.batchId): p for n in names for p in progress[n]}
    agg = {name: [] for name, _ in phases}
    triggers, waits, rows, covered, trigger_spans = [], [], [], [], []
    for name, k, due, actual in landed:
        p = by_batch.get((name, k))
        if p is None:
            continue
        start = _epoch(p.timestamp)
        dur = p.durationMs.get("triggerExecution", 0) / 1000.0
        op = tracer.add("op", due + to_perf, start + dur + to_perf,
                        op=f"{name}-{k}")
        tracer.add("stream.detect_wait", actual + to_perf, start + to_perf,
                   parent=op, op=f"{name}-{k}")
        trig = tracer.add("stream.trigger", start + to_perf,
                          start + dur + to_perf, parent=op, op=f"{name}-{k}")
        cursor = start
        for phase, keys in phases:
            d = sum(p.durationMs.get(key, 0) for key in keys) / 1000.0
            tracer.add(phase, cursor + to_perf, cursor + d + to_perf,
                       parent=trig, op=f"{name}-{k}")
            cursor += d
            agg[phase].append(d)
        triggers.append(dur)
        trigger_spans.append((start, start + dur))
        waits.append(max(start - actual, 0.0))
        rows.append(p.numInputRows)
        covered.append(tracer.covered(trig) / dur if dur else 0.0)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    layers = {f"{phase}_s": med(v) for phase, v in agg.items()}
    layers.update({
        "stream.trigger_s": med(triggers),
        "stream.detect_wait_s": med(waits),
        "stream.rows_per_batch": med(rows),
        "stream.batches": len(triggers),
        "stream.trigger_covered_share": med(covered),
        "dlq.batches": sum(oracle.dlq_batches(tenants[n].dlq_path)
                           for n in names),
    })
    t = time.perf_counter()
    jobs = [j for j in run.records.all_job_ids()
            if (job := run.records.job(j)) is not None
            and job["submitted"] is not None
            and origin <= job["submitted"] <= end_epoch]
    # the streams' jobs carry no per-slice job group: divide the timed
    # phase's totals by the batches, and take driver time per trigger as
    # the part of it no job (of either tenant) covers
    totals = run.records.summarize(jobs)
    n = max(len(triggers), 1)
    spark = {f"spark.{k}": totals[k] / n for k in (
        "jobs", "stages", "tasks", "shuffle_read_bytes",
        "shuffle_write_bytes", "executor_run_s", "executor_cpu_s", "gc_s")}
    spark["spark.driver_s"] = med([
        hi - lo - union_length((max(a, lo), min(b, hi))
                               for a, b in totals["intervals"])
        for lo, hi in trigger_spans])
    tracer.records_read_s += time.perf_counter() - t
    layers.update(spark)
    return layers


# -------------------------------------------------------------- backfill

def scale_fixture(base: str, out: str, reps: int) -> None:
    """The repository's 5x fixture recipe, ``scripts/gen_scale_fixture.py``
    (``reps`` replicas of ``customer`` and ``events`` with disjoint keys,
    in 16k-row groups), applied to the generated sf0.1 tables in ``base``
    instead of its built-in source directory."""
    import contextlib
    import importlib.util
    import sys

    path = os.path.join(ROOT, "scripts", "gen_scale_fixture.py")
    spec = importlib.util.spec_from_file_location("gen_scale_fixture", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    module.SRC = base
    argv = sys.argv
    sys.argv = [path, "--reps", str(reps), "--out", out,
                "--tables", "customer,events"]
    try:
        with contextlib.redirect_stdout(sys.stderr):
            module.main()
    finally:
        sys.argv = argv


def backfill(run: Run) -> Outcome:
    """Closed loop, one client: ``run_backfill`` over seeded WINDOW_DAYS
    windows of the 5x fixture, each call into its own sinks."""
    from mongo_to_clickhouse_spark.plans.backfill import run_backfill

    t = time.perf_counter()
    base = os.path.join(run.work, "fixture-sf0.1")
    datagen.write_fixture(base, FIXTURE_SEED, 0.1)
    fixture = os.path.join(run.work, "fixture")
    scale_fixture(base, fixture, BACKFILL_REPS)
    shutil.rmtree(base)
    run.fixture_s = time.perf_counter() - t

    calls = []  # (window, tenant, BackfillStats or None, error or None)

    def call(i: int, traced: bool):
        w = backfill_window(run.rng)
        tenant = _tenant(os.path.join(run.work, "calls"), f"call{i:03d}",
                         fixture)
        result, elapsed, error, op = _timed_call(
            run, i, lambda: run_backfill(run.spark, tenant, fixture, *w),
            traced)
        calls.append((w, tenant, result, error))
        return elapsed, op

    t_setup = time.perf_counter()
    for i in range(BACKFILL_WARMUP):
        call(i, False)
    setup_s = run.startup_s + time.perf_counter() - t_setup
    warm = len(calls)

    ops, traced_calls = [], []

    def one(traced: bool) -> float:
        if traced:
            traced_calls.append(len(calls))
        elapsed, op = call(len(calls), traced)
        if op:
            ops.append(op)
        return elapsed

    samples, monitor = closed_loop(run, one)
    latencies = samples[run.modes[-1]]

    problems, failed, docs = [], 0, 0
    con = oracle.connect(fixture)
    events_file = os.path.join(fixture, "events.parquet")
    for n, (w, tenant, stats, error) in enumerate(calls):
        if error is not None:
            problems.append(f"call {w}: {type(error).__name__}: {error}")
            failed += n >= warm
            continue
        oracle.set_events(con, [events_file], _sql_range(w))
        res = oracle.check_sinks(con, tenant.sink_main_path,
                                 tenant.sink_optout_path)
        bad = oracle.sink_problems(res)
        scanned = oracle.window_count(con)
        if stats.processed_docs + stats.failed_docs != scanned:
            bad.append(f"processed {stats.processed_docs} + failed "
                       f"{stats.failed_docs} != {scanned} in window")
        if stats.processed_docs != res["oracle_rows"]:
            bad.append(f"processed {stats.processed_docs} != oracle "
                       f"{res['oracle_rows']}")
        if bad:
            problems += [f"call {w}: {b}" for b in bad]
            failed += n >= warm
        if n >= warm:
            docs += stats.processed_docs
        shutil.rmtree(os.path.dirname(tenant.sink_main_path),
                      ignore_errors=True)

    timed = calls[warm:]
    out = Outcome(
        setup_s=setup_s, latencies=latencies, attempted=len(timed),
        failed=failed, peak_rss_mb=monitor.peak_mb, problems=problems,
        info={"window_days": WINDOW_DAYS, "calls": len(timed),
              "docs_per_s": docs / sum(v for vs in samples.values()
                                       for v in vs),
              "cpu_steal_share": monitor.steal_share},
    )
    if run.tracer.enabled:
        out.untraced_latencies = samples[False]
        last = [calls[i] for i in traced_calls]
        ok = [s for _, _, s, e in last if e is None]
        out.layers = {
            "backfill.call_s": statistics.median(latencies),
            "backfill.processed_docs": statistics.median(
                s.processed_docs for s in ok) if ok else 0,
            "backfill.failed_docs": statistics.median(
                s.failed_docs for s in ok) if ok else 0,
        }
        t = time.perf_counter()
        out.layers.update(spark_layers(run, ops))
        run.tracer.records_read_s += time.perf_counter() - t
        probe = layer_probe(run, fixture, ts_range=_sql_range(last[0][0]))
        out.layers.update(probe)
        # share of one call that the separately measured steps account
        # for: insert_batch re-evaluates the whole pipeline prefix and then
        # encodes both sinks
        out.layers["backfill.covered_share"] = (
            probe["sinks.insert_batch_s"] / out.layers["backfill.call_s"])
    return out


def _sql_range(window: tuple[str, str]) -> tuple[str, str]:
    """A backfill CLI window as ``YYYY-MM-DD HH:MM:SS`` timestamps."""
    from mongo_to_clickhouse_spark.plans.backfill import TIME_FMT

    return tuple(datetime.strptime(x, TIME_FMT).strftime("%Y-%m-%d %H:%M:%S")
                 for x in window)


# ------------------------------------------------------------- query_mix

def query_mix(run: Run) -> Outcome:
    """Closed loop, one client, one resident session: passes over
    QUERY_IDS in a seeded order, each id built and materialized through
    the noop sink. The cold first pass collects every result for the
    oracle check."""
    import oracle_harness

    from mongo_to_clickhouse_spark import queries as registry

    t = time.perf_counter()
    fixture = os.path.join(run.work, "fixture")
    datagen.write_fixture(fixture, FIXTURE_SEED, QUERY_SF)
    run.fixture_s = time.perf_counter() - t

    reg = registry.registry()
    ids = list(QUERY_IDS)
    collected, cold_errors = {}, {}

    t_setup = time.perf_counter()
    run.rng.shuffle(ids)
    for qid in ids:
        try:
            with run.tracer.span("query.cold", op=qid):
                collected[qid] = oracle.Collected(reg[qid][0](run.spark,
                                                              fixture))
        except Exception as exc:  # noqa: BLE001 — counted as failed
            cold_errors[qid] = exc

    def materialize(qid):
        reg[qid][0](run.spark, fixture).write.format("noop").mode(
            "overwrite").save()

    # warm passes: the second execution of an id still runs up to twice
    # as slow as later ones while code is compiled, and passes keep getting
    # slowly faster after that; warming until they stop would double the
    # set-up time, so the timed phase still sees the end of that curve
    for _ in range(QUERY_WARM_PASSES):
        for qid in ids:
            if qid not in cold_errors:
                try:
                    with run.tracer.span("query.warm", op=qid):
                        materialize(qid)
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    cold_errors[qid] = exc
    setup_s = run.startup_s + time.perf_counter() - t_setup

    executed, errors = [], {}  # executed: (qid, seconds, traced)

    ops = []

    def one_pass(traced: bool) -> float:
        run.rng.shuffle(ids)
        tp = time.perf_counter()
        for qid in ids:
            _, elapsed, error, op = _timed_call(
                run, len(executed), lambda q=qid: materialize(q), traced)
            executed.append((qid, elapsed, traced))
            if error is not None:
                errors.setdefault(qid, error)
            if op:
                ops.append(op)
        return time.perf_counter() - tp

    samples, monitor = closed_loop(run, one_pass)
    passes = samples[run.modes[-1]]

    con = oracle_harness.duck_connection(fixture)
    wrong = {}
    for qid in ids:
        if qid in cold_errors:
            wrong[qid] = f"{type(cold_errors[qid]).__name__}: {cold_errors[qid]}"
            continue
        found = oracle_harness.compare(collected[qid], con, reg[qid][1])
        if found:
            wrong[qid] = "; ".join(p[:200] for p in found)
    for qid, exc in errors.items():
        wrong.setdefault(qid, f"{type(exc).__name__}: {str(exc)[:200]}")

    # one latency sample per pass, the mean time of its operations: the
    # ids' costs differ by up to 1.5x, and a median pooled over single
    # executions falls on whichever ids' samples straddle the middle (it
    # jumped between two ids' costs, 0.57 s and 0.73 s, from run to run)
    out = Outcome(
        setup_s=setup_s,
        latencies=[p / len(ids) for p in passes],
        attempted=len(executed),
        failed=sum(1 for q, _, _ in executed if q in wrong),
        peak_rss_mb=monitor.peak_mb,
        problems=[f"{q}: {msg}" for q, msg in sorted(wrong.items())],
        info={"pass_s": statistics.median(passes), "passes": len(passes),
              "ids": len(ids), "cpu_steal_share": monitor.steal_share},
    )
    if run.tracer.enabled:
        out.untraced_latencies = [p / len(ids) for p in samples[False]]
        layers = {}
        per_module: dict[str, float] = {}
        for qid in sorted(ids):
            med = statistics.median(
                s for q, s, traced in executed if q == qid and traced)
            layers[f"query.{qid}_s"] = med
            mod = reg[qid][0].__module__.rsplit(".", 1)[-1]
            per_module[mod] = per_module.get(mod, 0.0) + med
        layers.update({f"queries.{m}_s": v for m, v in per_module.items()})
        t = time.perf_counter()
        layers.update(spark_layers(run, ops))
        run.tracer.records_read_s += time.perf_counter() - t
        layers.update(layer_probe(run, fixture))
        layers.update(backfill_probe(run, fixture))
        out.layers = layers
    return out


WORKLOADS = {"cdc_live": cdc_live, "backfill": backfill,
             "query_mix": query_mix}
