"""The benchmark workloads and the context they share.

Each workload function takes a :class:`Context` and returns a
:class:`Result`: end-to-end metrics, per-layer metrics, operation
counts for the correctness check and extra stamp fields. Set-up ends
at the first timed operation; ``setup_s`` counts from process start.

The system under test runs in this process (driver, JVM, PySpark
workers). Load comes from ``loadgen.py`` in a child process whose PID
the memory sampler excludes.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import stats
from kv import CountingKV
from procs import RssSampler
from tracing import Tracer, self_time_by_span


def process_age_s() -> float:
    """Seconds since this process started (CLOCK_BOOTTIME vs /proc starttime)."""
    with open(f"/proc/{os.getpid()}/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


_ABSENT = object()  # marks a patched name the owner did not hold itself


@dataclass
class Result:
    e2e: dict
    per_layer: dict
    attempted: int
    failed: int
    info: dict = field(default_factory=dict)


class Context:
    """Per-run state: arguments, scratch space, tracer, memory sampler,
    the Spark session and the generator process."""

    def __init__(self, args, work: str, out_dir: str, bench_dir: str) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.workload = args.workload
        self.work, self.out_dir, self.bench_dir = work, out_dir, bench_dir
        self.tracer = Tracer(self.trace)
        self.rss = RssSampler(self.path("rss-report.json"))
        self.spark = None
        self._gen: subprocess.Popen | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.layer: dict[str, float] = {}

    # -- paths -------------------------------------------------------------
    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def mkdir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # -- the system under test ---------------------------------------------
    def start_spark(self):
        from cdc_cascade_spark.session import get_spark

        tmp = self.mkdir("spark-tmp")
        conf = {
            "spark.local.dir": tmp,
            # A fixed heap and young generation: with the defaults, peak
            # RSS depends on when the JVM decides to grow them.
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g -Xmn128m",
            "spark.sql.warehouse.dir": self.mkdir("warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        return self.spark

    def gc_totals(self) -> tuple[float, int]:
        """(GC milliseconds, GC count) summed over the JVM's collectors."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        ms = n = 0
        for bean in mf.getGarbageCollectorMXBeans():
            ms += max(0, bean.getCollectionTime())
            n += max(0, bean.getCollectionCount())
        return float(ms), int(n)

    # -- the load generator --------------------------------------------------
    def start_generator(self, mode: str, spec: dict) -> str:
        """Launch loadgen.py; returns the path its report will be written to."""
        report = self.path("gen", f"{mode}-report.json")
        spec = dict(spec, report_path=report)
        self._gen = subprocess.Popen(
            [sys.executable, os.path.join(self.bench_dir, "loadgen.py"), mode, json.dumps(spec)],
            stdin=subprocess.DEVNULL)
        self.rss.exclude(self._gen.pid)
        return report

    def generator_running(self) -> bool:
        return self._gen is not None and self._gen.poll() is None

    def wait_generator(self, report: str, timeout: float) -> dict:
        rc = self._gen.wait(timeout=timeout)
        self._gen = None
        if rc != 0:
            raise RuntimeError(f"load generator exited with {rc}")
        with open(report) as f:
            out = json.load(f)
        self.layer["loadgen.cpu_s"] = out.get("cpu_s", 0.0)
        return out

    # -- traced wrappers around the program's public functions ---------------
    def patch(self, owner, name: str, span: str, hook=None) -> None:
        """Traced run only: replace ``owner.name`` (a module function or
        an instance's method) with a wrapper that records ``span`` around
        each call. ``hook(call)``, if given, makes the call itself inside
        the span, to observe it (e.g. count what it wrote). The untraced
        run installs nothing, so it measures the program unchanged."""
        if not self.trace:
            return
        orig = getattr(owner, name)
        tracer = self.tracer

        def timed(*a, **kw):
            with tracer.span(span):
                if hook is None:
                    return orig(*a, **kw)
                return hook(lambda: orig(*a, **kw))

        self._patches.append((owner, name, vars(owner).get(name, _ABSENT)))
        setattr(owner, name, timed)

    def unpatch(self) -> None:
        """Put back everything ``patch`` replaced."""
        while self._patches:
            owner, name, orig = self._patches.pop()
            if orig is _ABSENT:
                delattr(owner, name)
            else:
                setattr(owner, name, orig)

    def close(self) -> None:
        self.unpatch()
        if self._gen is not None:
            self._gen.kill()
            self._gen.wait()
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            gw = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.rss.stop()
        if self.trace:
            os.makedirs(self.out_dir, exist_ok=True)
            self.tracer.dump(os.path.join(
                self.out_dir, f"{self.workload}-seed{self.seed}-spans.jsonl"))

    def finish(self, e2e: dict, attempted: int, failed: int, info: dict) -> Result:
        self.rss.stop()
        e2e["peak_rss_mb"] = self.rss.peak_mb
        info = dict(info, rss_pids=sorted(self.rss.counted),
                    rss_peak_mb_by_pid={p: round(b / 2**20, 1) for p, b in self.rss.peak_by_pid.items() if b},
                    excluded_pids=sorted(self.rss.excluded),
                    self_time_s={k: round(v, 6) for k, v in self.tracer.self_times().items()})
        return Result(e2e, dict(self.layer), attempted, failed, info)


# --- shared streaming helpers ------------------------------------------------

def _progress_ms(p: dict, *keys: str) -> float:
    d = p.get("durationMs", {})
    return float(sum(d.get(k, 0) for k in keys))


def _progress_start(p: dict) -> float:
    """Wall-clock epoch seconds at which a micro-batch started."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _progress_end(p: dict) -> float:
    """Wall-clock epoch seconds at which a micro-batch finished."""
    return _progress_start(p) + _progress_ms(p, "triggerExecution") / 1000.0


def add_batch_spans(tracer: Tracer, progress: list[dict], sink_span: str, since: int) -> None:
    """Record each micro-batch as a ``streaming.pipeline.batch`` span and
    make it the parent of the sink span that ran inside it."""
    mono_of_epoch = time.monotonic() - time.time()
    for p in progress:
        start = _progress_start(p) + mono_of_epoch
        end = start + _progress_ms(p, "triggerExecution") / 1000.0
        sid = tracer.add("streaming.pipeline.batch", start, end, tag=p["batchId"])
        tracer.adopt(sid, start - 0.01, end + 0.01, {sink_span}, since)


def stream_layer_metrics(batches: list[dict], backlog: list[int]) -> dict:
    """Per-layer streaming metrics from ``StreamingQuery.recentProgress``
    entries that read data: medians per batch, plus backlog high-water."""
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {
        "streaming.pipeline.batches": len(batches),
        "streaming.pipeline.batch_ms": med([_progress_ms(p, "triggerExecution") for p in batches]),
        "streaming.pipeline.rows_per_batch": med([p["numInputRows"] for p in batches]),
        "streaming.pipeline.source_ms": med([_progress_ms(p, "latestOffset", "getBatch") for p in batches]),
        "streaming.pipeline.planning_ms": med([_progress_ms(p, "queryPlanning") for p in batches]),
        "streaming.pipeline.sink_ms": med([_progress_ms(p, "addBatch") for p in batches]),
        "streaming.pipeline.commit_ms": med([_progress_ms(p, "walCommit", "commitOffsets") for p in batches]),
        "streaming.pipeline.backlog_files_max": max(backlog, default=0),
    }


def source_log_files(checkpoint: str) -> dict[int, int]:
    """Files each micro-batch read, from the file source's metadata log
    in the checkpoint (plain and ``.compact`` entries carry batchId)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    per_batch: dict[int, set[str]] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    per_batch.setdefault(int(e["batchId"]), set()).add(e["path"])
    return {b: len(paths) for b, paths in per_batch.items()}


def patch_sink(ctx: Context, caller, name: str, current_store, samples: list) -> None:
    """Time the sink function ``name`` where ``caller`` (the module that
    calls it) looks it up, in the traced run, and count the keys each
    call wrote to ``current_store()``."""

    def count_writes(call):
        st = current_store()
        n0 = st.sets + st.deletes
        out = call()
        samples.append(st.sets + st.deletes - n0)
        return out

    ctx.patch(caller, name, f"streaming.sinks.{name}", count_writes)


# --- view_catchup --------------------------------------------------------------

CATCHUP_EVENTS = 120_000     # backlog drained from an empty checkpoint
CATCHUP_KEYS = 20_000        # Zipf-keyed (loadgen.ZIPF_S): batches compact heavily
CATCHUP_FILE_EVENTS = 10_000
CATCHUP_MAX_FILES = 2        # per trigger: 6 batches of 20,000 events per drain
CATCHUP_DRAIN_S = 5.0        # a drain's time on 4 cores: sets the drain count
CATCHUP_MIN_DRAINS = 4       # 24 batches keep a tail percentile above the median
CATCHUP_WARM_DRAINS = 3      # untimed: drain times kept falling through the third


def _check_view(snapshot: dict[str, str], model: dict[str, dict]) -> int:
    """Keys where the materialized view differs from the latest-wins model."""
    bad = len(set(snapshot) ^ set(model))
    for k, want in model.items():
        got = snapshot.get(k)
        if got is not None:
            got = json.loads(got)
            bad += any(got.get(f) != want[f] for f in ("code", "name", "libram"))
    return bad


def view_catchup(ctx: Context) -> Result:
    import cdc_cascade_spark.streaming.pipeline as pipeline
    from cdc_cascade_spark.streaming.pipeline import (
        read_cdc_files, start_materialized_view_pipeline)

    src, model_path = ctx.mkdir("src"), ctx.path("model.json")
    report = ctx.start_generator("backlog", {
        "seed": ctx.seed, "src_dir": src, "tmp_dir": ctx.mkdir("staging"),
        "model_path": model_path, "n_events": CATCHUP_EVENTS, "n_keys": CATCHUP_KEYS,
        "events_per_file": CATCHUP_FILE_EVENTS})
    spark = ctx.start_spark()
    ctx.wait_generator(report, timeout=120)
    with open(model_path) as f:
        model = json.load(f)
    sink_keys: list[int] = []
    stores: list[CountingKV] = []
    patch_sink(ctx, pipeline, "upsert_view_batch", lambda: stores[-1], sink_keys)

    def drain(i: int):
        since = len(ctx.tracer.spans)
        store = CountingKV()
        stores.append(store)
        ckpt = ctx.path(f"ckpt{i}")
        wall0, t0 = time.time(), time.perf_counter()
        q = start_materialized_view_pipeline(
            read_cdc_files(spark, src, max_files_per_trigger=CATCHUP_MAX_FILES), store, ckpt)
        q.processAllAvailable()
        secs = time.perf_counter() - t0
        progress = list(q.recentProgress)
        q.stop()
        add_batch_spans(ctx.tracer, progress, "streaming.sinks.upsert_view_batch", since)
        return secs, wall0, progress, source_log_files(ckpt), _check_view(store.snapshot(), model)

    # Untimed: the first drain compiles the plan, and the JIT keeps
    # speeding up the next two.
    warm = [drain(i) for i in range(CATCHUP_WARM_DRAINS)]
    sink_keys.clear()
    mark = len(ctx.tracer.spans)
    setup_s = process_age_s()
    gc0 = ctx.gc_totals()
    # A fixed number of drains for the time asked, not as many as fit:
    # the batch count, and so the tail percentile, is the same every run.
    n_drains = max(CATCHUP_MIN_DRAINS, round(ctx.seconds / CATCHUP_DRAIN_S))
    drains = [drain(CATCHUP_WARM_DRAINS + i) for i in range(n_drains)]
    gc1 = ctx.gc_totals()

    n_files = -(-CATCHUP_EVENTS // CATCHUP_FILE_EVENTS)
    batches, backlog, lags = [], [], []
    for secs, wall0, progress, files_of, _ in drains:
        consumed = 0
        for p in sorted(progress, key=lambda p: p["batchId"]):
            n = files_of.get(p["batchId"], 0)
            if n == 0:
                continue
            backlog.append(n_files - consumed)
            consumed += n
            batches.append(dict(p, numInputRows=n * CATCHUP_FILE_EVENTS))
            # Catch-up lag: drain start -> commit of the batch. Every
            # batch carries the same number of events.
            lags.append(_progress_end(p) - wall0)
    lag_p50, lag_tail, lag_pct = stats.median_and_tail(lags)
    batch_lat = [_progress_ms(p, "triggerExecution") for p in batches]
    lat_p50, lat_tail, lat_pct = stats.median_and_tail(batch_lat)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": statistics.median(CATCHUP_EVENTS / d[0] for d in drains),
        "latency_p50_ms": lat_p50,
        "latency_tail_ms": lat_tail,
        "lag_p50_ms": lag_p50 * 1000.0,
        "lag_tail_ms": lag_tail * 1000.0,
    }
    ctx.layer.update(stream_layer_metrics(batches, backlog))
    ctx.layer.update(stores[-1].metrics())
    ctx.layer["jvm.gc_ms"], ctx.layer["jvm.gc_count"] = gc1[0] - gc0[0], gc1[1] - gc0[1]
    if sink_keys:
        ctx.layer["streaming.sinks.upsert_view_batch_ms"] = statistics.median(
            ctx.tracer.durations("streaming.sinks.upsert_view_batch", since=mark)) * 1000
        ctx.layer["streaming.sinks.keys_per_batch"] = statistics.median(sink_keys)
    failed = sum(d[4] for d in warm + drains)
    return ctx.finish(e2e, attempted=(len(warm) + len(drains)) * len(model), failed=failed, info={
        "valid": True,
        "backlog_events": CATCHUP_EVENTS, "model_keys": len(model),
        "drains_timed": len(drains), "drain_s": [round(d[0], 4) for d in drains],
        "untimed_drain_s": [round(d[0], 4) for d in warm],
        "lag_tail_percentile": lag_pct, "lag_support_batches": len(batches),
        "latency_tail_percentile": lat_pct, "latency_samples": len(batch_lat),
        "latency_is": "micro-batch duration", "lag_is": "drain start to batch commit, per batch",
        "view_mismatches": failed,
    })


# --- api_cache_aside -------------------------------------------------------------

API_KEYS = 2_000            # rows preloaded through the service
API_CYCLE_PERIOD_S = 4.0    # the consumer starts a cycle on this fixed cadence;
                            # each cycle stalls the one request it overlaps, and
                            # fewer than ten stalls per run keep the latency tail
                            # (ten samples beyond it) on unstalled requests
API_WARM_S = 2.0            # client warm-up reads, untimed
API_WARM_CYCLES = 6         # consumer cycles run in set-up to JIT the cycle
API_WARM_KEY_BASE = 1_000_000  # rows only the warm-up cycles touch


def api_cache_aside(ctx: Context) -> Result:
    import cdc_cascade_spark.serving as serving
    import loadgen
    from cdc_cascade_spark.api import CdcApiServer
    from cdc_cascade_spark.serving import CdcTableService, NotFound

    spark = ctx.start_spark()
    store = CountingKV()
    service = CdcTableService(spark, store)
    warm_keys = range(API_WARM_KEY_BASE, API_WARM_KEY_BASE + 60)
    for k in [*range(API_KEYS), *warm_keys]:
        service.create(loadgen.row(k, f"n{k}", "init"))
    service.run_invalidation_cycle()  # consume the preload (creates: no DELs)
    warm_cycles = []
    for i in range(API_WARM_CYCLES):
        for k in warm_keys:
            service.update(k, {"libram": f"w{i}"})
        t0 = time.perf_counter()
        service.run_invalidation_cycle()
        warm_cycles.append(round(time.perf_counter() - t0, 4))
    store.reset_counts()
    serving_ops = ("read_one", "update", "create", "delete")
    for name in serving_ops:
        ctx.patch(service, name, f"serving.{name}")
    sink_keys: list[int] = []
    patch_sink(ctx, serving, "invalidate_batch", lambda: store, sink_keys)

    server = CdcApiServer(service, port=0).start()
    cycles: list[tuple[float, float, int]] = []  # (monotonic start, seconds, envelopes)
    stop = threading.Event()

    def consume() -> None:
        # The service is not safe against a concurrent consumer: a cycle
        # marks every envelope appended while it ran as consumed. The
        # consumer therefore takes the server's own mutation lock, as the
        # request handlers do.
        # Fixed cadence: a write waits for the next slot, not for a gap
        # after a cycle of varying length. A cycle that overruns its
        # slot skips to the next one.
        start = time.monotonic()
        while not stop.wait(API_CYCLE_PERIOD_S - (time.monotonic() - start) % API_CYCLE_PERIOD_S):
            with server._lock:
                t0 = time.monotonic()
                with ctx.tracer.span("serving.run_invalidation_cycle"):
                    n = service.run_invalidation_cycle()
                cycles.append((t0, time.monotonic() - t0, n))

    consumer = threading.Thread(target=consume, name="cdc-consumer", daemon=True)
    consumer.start()
    marker = ctx.path("gen", "timed-start")
    report = ctx.start_generator("api", {
        "seed": ctx.seed, "port": server.port, "n_keys": API_KEYS,
        "warm_s": API_WARM_S, "seconds": ctx.seconds, "marker_path": marker})
    while not os.path.exists(marker) and ctx.generator_running():
        time.sleep(0.005)
    setup_s = process_age_s()
    gc0 = ctx.gc_totals()
    n_cycles0 = len(cycles)
    try:
        gen = ctx.wait_generator(report, timeout=API_WARM_S + ctx.seconds + 60)
    finally:
        stop.set()
        consumer.join(timeout=60)
    gc1 = ctx.gc_totals()
    ctx.layer.update(store.metrics())  # the timed phase's traffic, not the checks'
    ctx.unpatch()
    with server._lock:
        service.run_invalidation_cycle()  # final quiesce
    server.shutdown_with_timeout()

    records = gen["records"]
    bad_status = sum(1 for r in records if not r[5])
    writes = [(str(key), t1) for op, key, t0, t1, status, ok in records
              if ok and op in ("update", "delete")]
    _, missing = stats.join_lags(writes, store.del_times)
    # Lag counts the writes the consumer's own cycles invalidated: those
    # acknowledged before the last timed cycle started. Later ones wait
    # only for the final quiesce, which runs as soon as the client stops,
    # so their lag would depend on where the run's end falls in a cycle.
    timed_cycles = cycles[n_cycles0:]
    last_cycle = timed_cycles[-1][0] if timed_cycles else float("inf")
    lags, _ = stats.join_lags([w for w in writes if w[1] < last_cycle], store.del_times)
    stale = 0
    for key, lib in gen["model"].items():
        try:
            got = service.read_one(key)
            stale += lib is None or got.get("libram") != lib
        except NotFound:
            stale += lib is not None
    lat = [(t1 - t0) * 1000.0 for _, _, t0, t1, _, _ in records]
    lat_p50, lat_tail, lat_pct = stats.median_and_tail(lat)
    lag_p50, lag_tail, lag_pct = stats.median_and_tail(lags) if lags else (0, 0, None)
    span = records[-1][3] - records[0][2] if records else 1.0
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(records) / span,
        "latency_p50_ms": lat_p50,
        "latency_tail_ms": lat_tail,
        "lag_p50_ms": lag_p50 * 1000.0,
        "lag_tail_ms": lag_tail * 1000.0,
    }
    ctx.layer["jvm.gc_ms"], ctx.layer["jvm.gc_count"] = gc1[0] - gc0[0], gc1[1] - gc0[1]
    info_extra = {}
    if timed_cycles:
        ctx.layer["serving.cycle_ms"] = statistics.median(c for _, c, _ in timed_cycles) * 1000
        ctx.layer["serving.cycle_events"] = statistics.median(n for _, _, n in timed_cycles)
    ctx.layer["serving.cycles"] = len(timed_cycles)
    if sink_keys:
        ctx.layer["streaming.sinks.invalidate_batch_ms"] = statistics.median(
            ctx.tracer.durations("streaming.sinks.invalidate_batch")) * 1000
        ctx.layer["streaming.sinks.keys_per_batch"] = statistics.median(sink_keys)
    if ctx.trace:
        # Request spans from the client's clock. Each becomes the parent
        # of the outermost serving call inside it (the client has one
        # request in flight), so the request's self time is the API's.
        names = {f"serving.{n}" for n in serving_ops}
        timed_t0 = records[0][2]
        outer = [sp for sp in ctx.tracer.spans if sp[1] in names and sp[4] is None and sp[2] >= timed_t0]
        if len(outer) != len(records):
            raise RuntimeError(f"{len(outer)} serving calls for {len(records)} requests")
        for name in serving_ops:
            us = [(e - s) * 1e6 for _, n, s, e, _, _ in outer if n == f"serving.{name}"]
            ctx.layer[f"serving.{name}_us"] = statistics.median(us) if us else 0.0
        for i, (op, key, t0, t1, _, _) in enumerate(records):
            sid = ctx.tracer.add("api.request", t0, t1, tag=f"{i}:{op}:{key}")
            ctx.tracer.adopt(sid, t0, t1, names)
        api_self = self_time_by_span(ctx.tracer.spans)["api.request"]
        ctx.layer["api.self_ms"] = statistics.median(api_self) * 1000.0
        info_extra = {"api_self_share_of_latency_p50": ctx.layer["api.self_ms"] / lat_p50}
    failed = bad_status + len(missing) + stale
    return ctx.finish(e2e, attempted=len(records) + len(gen["model"]), failed=failed, info={
        "valid": True, **info_extra, "warm_cycles_s": warm_cycles,
        "requests": len(records), "bad_status": bad_status, "missing_dels": len(missing),
        "stale_final_reads": stale, "consumer_cycles": len(timed_cycles),
        "latency_tail_percentile": lat_pct, "latency_samples": len(lat),
        "lag_tail_percentile": lag_pct, "lag_samples": len(lags),
        "lag_is": "write acknowledged -> consumer DEL of the key",
    })


WORKLOADS = {
    "view_catchup": view_catchup,
    "api_cache_aside": api_cache_aside,
}
