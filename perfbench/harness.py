"""Session lifetime, the pass loop, and the statistics the run reports.

One run = one process = one Spark session at ``local[nproc]``:

1. set-up: start the session, then the warm-up passes. The first pass
   after session start is the cold pass; the next ``WARMUP_PASSES`` still
   compile code and are no samples either;
2. measurement: warm passes, back to back, for ``seconds`` of wall time
   (and at least ``MIN_PASSES``; a traced run alternates traced and
   untraced passes and needs two traced and one untraced);
3. every pass's output is checked against the workload's oracle outside
   the timed region. A pass that raises, times out or mismatches is a
   failed pass; its time is not graded.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback

from spans import COLD_ONLY, LAYER_UNITS, NullTracer, Tracer

MIN_PASSES = 3
WARMUP_PASSES = 2  # after the cold pass
JVM_HEAP = "2g"
PASS_TIMEOUT_S = 60.0
# start no pass that would end after this many seconds of the run, at the
# last pass's pace; a run must print its result within 180 s
RUN_DEADLINE_S = 160.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp_root: str):
    """The library's session factory at ``local[nproc]``, with every
    temporary directory under the run's temp root.

    The JVM heap is fixed at ``JVM_HEAP`` and touched at JVM start
    (-Xms = -Xmx, AlwaysPreTouch): with the library's growable 8 GiB
    default, or a fixed heap touched as GC happens to use it, the JVM's
    RSS follows GC timing and peak RSS swung by up to a third from run to
    run."""
    from profet_spark import get_spark

    return get_spark(app="perfbench", master=f"local[{nproc()}]", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp_root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp_root, "warehouse"),
        "spark.driver.memory": JVM_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc every ``interval`` s."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                continue
            pid = int(name)
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(pid)
            rss[pid] = pages * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def tail(times: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples beyond). With 10 samples or fewer no
    such percentile exists; the maximum is reported with 0 beyond."""
    s = sorted(times)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    k = n - 11  # 0-based: ten samples lie above s[k]
    return s[k], 100.0 * (k + 1) / n, n - k - 1


class _Deadline:
    """Cancels the running Spark jobs when a pass overruns its time."""

    def __init__(self, spark, seconds: float):
        self.fired = False
        self._spark = spark
        self._timer = threading.Timer(seconds, self._fire)
        self._timer.daemon = True

    def _fire(self) -> None:
        self.fired = True
        self._spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()


def _run_pass(spark, workload, tracer, pass_id: int, cold: bool):
    """Run one pass. Returns (seconds, result, error); ``error`` is set
    when the pass raised or overran ``PASS_TIMEOUT_S``."""
    workload.before_pass(cold)
    if tracer.enabled:
        tracer.pass_id = pass_id
    try:
        with _Deadline(spark, PASS_TIMEOUT_S) as dl:
            t0 = time.perf_counter()
            if tracer.enabled:
                with tracer.span("pass"):
                    result = workload.run_pass(spark, tracer, cold)
            else:
                result = workload.run_pass(spark, tracer, cold)
            dt = time.perf_counter() - t0
    except Exception:  # a raising pass is a failed pass, never a crash
        return None, None, "raised: " + traceback.format_exc(limit=4).strip()
    finally:
        if tracer.enabled:
            tracer.pass_id = None
    if dl.fired:
        return dt, None, f"timed out after {PASS_TIMEOUT_S:.0f} s"
    return dt, result, None


def _check(spark, workload, result) -> tuple[bool, str]:
    """The workload's oracle check, outside the timed region."""
    try:
        return workload.check(spark, result)
    except Exception:
        return False, "check raised: " + traceback.format_exc(limit=4).strip()


def _broadcast_probe(tracer):
    """Count the bytes of broadcasts made from Python (``sc.broadcast``)
    during traced passes; Spark's status stores do not record them."""
    from pyspark import SparkContext

    original = SparkContext.broadcast

    def broadcast(self, value):
        bc = original(self, value)
        path = getattr(bc, "_path", None)
        if path and os.path.exists(path):
            tracer.note_broadcast(os.path.getsize(path))
        return bc

    SparkContext.broadcast = broadcast
    return lambda: setattr(SparkContext, "broadcast", original)


def run(workload, seconds: float, trace: bool, tmp_root: str, log) -> dict:
    """One full run of ``workload``; returns the result the CLI prints."""
    t_run = time.perf_counter()
    attempted = failed = 0
    failures: list[str] = []

    def grade(pass_id, ok, reason):
        nonlocal attempted, failed
        attempted += 1
        if not ok:
            failed += 1
            failures.append(f"pass {pass_id}: {reason}")
            log(f"FAILED pass {pass_id}: {reason}")

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(tmp_root)
        try:
            start_s = time.perf_counter() - t0
            log(f"session started in {start_s:.1f} s")
            tracer = Tracer(spark) if trace else NullTracer()
            restore = _broadcast_probe(tracer) if trace else (lambda: None)
            try:
                workload.open(spark)
                cold_s, result, err = _run_pass(spark, workload, tracer, 0, cold=True)
                # the oracle's Spark-side reference is built after the cold
                # pass, so it cannot warm the session up for it
                t1 = time.perf_counter()
                workload.prepare_reference(spark)
                log(f"cold pass {cold_s or 0.0:.1f} s; oracle reference built in "
                    f"{time.perf_counter() - t1:.1f} s")
                grade(0, *((False, err) if err else _check(spark, workload, result)))
                # untimed passes after the cold one: the first warm passes
                # still compile code and run up to 40% slower
                warmup_s = 0.0
                for pass_id in range(1, 1 + WARMUP_PASSES):
                    dt, result, err = _run_pass(spark, workload, NullTracer(), pass_id, cold=False)
                    grade(pass_id, *((False, err) if err else _check(spark, workload, result)))
                    log(f"warm-up pass {pass_id}: {dt or 0.0:.2f} s")
                    warmup_s += dt or PASS_TIMEOUT_S
                warm: list[float] = []
                untraced: list[float] = []
                m0 = time.perf_counter()
                pass_id, last_dt = 1 + WARMUP_PASSES, dt or PASS_TIMEOUT_S
                while True:
                    enough = (len(warm) >= 2 and len(untraced) >= 1 if trace
                              else len(warm) >= MIN_PASSES)
                    if time.perf_counter() - m0 >= seconds and enough:
                        break
                    if time.perf_counter() - t_run + last_dt > RUN_DEADLINE_S:
                        log("run deadline reached; stopping the pass loop")
                        break
                    # a traced run alternates traced and untraced passes so
                    # the tracing overhead is measured inside one session
                    traced = trace and (pass_id - WARMUP_PASSES) % 2 == 1
                    tr = tracer if traced else NullTracer()
                    dt, result, err = _run_pass(spark, workload, tr, pass_id, cold=False)
                    last_dt = dt or PASS_TIMEOUT_S
                    ok, reason = (False, err) if err else _check(spark, workload, result)
                    grade(pass_id, ok, reason)
                    log(f"pass {pass_id}{' traced' if traced else ''}: {dt or 0.0:.2f} s")
                    if ok:
                        (warm if (traced or not trace) else untraced).append(dt)
                    pass_id += 1
                log(f"measured {pass_id - 1 - WARMUP_PASSES} passes in "
                    f"{time.perf_counter() - m0:.1f} s")
                layers = tracer.layers(workload.input_rows) if trace else {}
            finally:
                restore()
            store_ratio = workload.store_ratio()
        finally:
            t2 = time.perf_counter()
            stop_session(spark)
            log(f"session stopped in {time.perf_counter() - t2:.1f} s")
    if trace and tracer.spans:
        tracer.dump(os.path.join(workload.out_dir,
                                 f"trace-{workload.name}-seed{workload.seed}.json"))

    # with no successful pass every time reads 0; the run is then
    # reported incorrect through "failed"
    ok_runs = warm or [0.0]
    med = statistics.median(ok_runs)
    tail_v, tail_p, tail_n = tail(ok_runs)
    cold_s = cold_s or 0.0
    result = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "passes": len(warm),
        "end_to_end": {
            "setup_s": start_s + cold_s + warmup_s,
            "cold_pass_s": cold_s,
            "pass_s": med,
            "pass_s_tail": tail_v,
            "rows_per_s": workload.input_rows / med if med else 0.0,
            "failed_share": failed / max(attempted, 1),
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "stored_bytes_per_input_byte": store_ratio,
        },
        "tail": {"percentile": tail_p, "samples_beyond": tail_n, "samples": len(warm)},
    }
    if trace:
        per_pass = [layers[p] for p in sorted(layers) if p > 0]
        cold = layers.get(0, {})
        agg = {}
        for name in LAYER_UNITS:
            if name in COLD_ONLY:
                agg[name] = cold.get(name, 0.0)
            else:
                vals = [lp.get(name, 0.0) for lp in per_pass] or [0.0]
                agg[name] = statistics.median(vals)
        agg["store.bytes_per_input_byte"] = store_ratio
        agg["trace_overhead_s"] = (med - statistics.median(untraced)) if untraced else 0.0
        result["per_layer"] = agg
    return result
