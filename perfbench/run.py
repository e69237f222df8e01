"""Benchmark driver for the validation engine.

    python3 perfbench/run.py --workload suite_audio --seed 1 --seconds 28 --trace 0

Runs one closed-loop, single-client workload on ``local[<cores>/2]`` with
the engine's default session settings (``audio_kernel``: on a pool of one
process per core, without Spark), checks every iteration's output, and
prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (``setup_s``, ``wall_s``, ``clips_per_s``);
with ``--trace 1`` they are the per-layer ones, measured in a separate
traced run from spans around the engine's public functions and Spark's own
event log (see ``tracing.py``). Workloads and metrics are described in
``BENCHMARK.json`` at the repository root.

Inputs are built from ``--seed`` into ``.perfbench_cache/`` at the
repository root (see ``inputs.py``) and reused by later runs with the same
seed. The script exits with status 2, printing no result, when the engine
sources are not next to this directory.
"""

# process start, before the heavy imports: set-up time counts from here
import time  # noqa: I001

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
#: the timed workloads; ``suite_schema``, ``resume_schema`` and
#: ``query_leaves`` run in the traced run only (see workloads.py)
BENCH_WORKLOADS = ("suite_audio", "audio_kernel")
#: largest run ``--seconds`` accepts: keeps every run inside the 180 s limit
MAX_SECONDS = 60


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python workers) from ``/proc`` and keeps the peak."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return max(self.peak, self.sample()) / 2**20


def start_spark(cores: int, extra: dict[str, str] | None = None):
    from engine.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def reap() -> None:
    """Stop any process this run left behind and wait for it."""
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            # not our direct child: poll until it is gone
            for _ in range(100):
                if not os.path.exists(f"/proc/{pid}"):
                    break
                time.sleep(0.05)


def _log_walls(name: str, setup_s: float, walls: list[float]) -> None:
    print(f"perfbench: {name} setup {setup_s:.2f} s, iterations "
          + " ".join(f"{w:.2f}" for w in walls) + " s", file=sys.stderr, flush=True)


def run_untraced(wl, ctx, seconds: float, excluded: float) -> dict:
    from workloads import NO_TRACE

    if wl.needs_spark:
        ctx.spark = start_spark(ctx.spark_cores)
    wl.open(ctx.spark)
    t0 = time.perf_counter()
    wl.check_setup()
    excluded += time.perf_counter() - t0
    warm_ok = wl.warm_up()
    setup_s = time.perf_counter() - T_START - excluded

    # a fixed number of timed iterations for the workload and ``seconds``:
    # the JVM keeps speeding up from one iteration to the next, so a count
    # that followed the host's speed would move the median with it
    walls, failed = [], 0
    for _ in range(wl.timed_iterations(seconds)):
        t0 = time.perf_counter()
        try:
            ok = wl.iterate(NO_TRACE)
        except Exception:
            traceback.print_exc()
            ok = False
        walls.append(time.perf_counter() - t0)
        failed += not ok
    _log_walls(wl.name, setup_s, walls)
    wl.close()
    if ctx.spark is not None:
        stop_spark(ctx.spark)
    return {
        "correct": warm_ok and failed == 0,
        "attempted": len(walls),
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "clips_per_s": wl.rows / statistics.median(walls),
        },
    }


def run_traced(wl, ctx) -> dict:
    """Per-layer numbers. Every per-layer metric is emitted whatever the
    workload: the selected workload (``suite_audio`` in place of the
    Spark-free ``audio_kernel``) runs warm-up, one traced and one plain
    iteration (their difference is the tracing overhead); the other Spark
    workloads then run one traced iteration each, without a warm-up of
    their own, and the kernel harness runs last. Spans go to
    ``.perfbench_cache/trace-<workload>-<seed>.jsonl``."""
    import kernel
    import tracing
    from workloads import NO_TRACE, WORKLOADS

    log_dir = os.path.join(ctx.scratch, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    extra = {"spark.eventLog.enabled": "true",
             "spark.eventLog.dir": "file://" + log_dir,
             "spark.eventLog.compress": "false"}
    t0 = time.perf_counter()
    ctx.spark = start_spark(ctx.spark_cores, extra)
    metrics = {"session.get_spark_s": time.perf_counter() - t0}
    tracer = tracing.Tracer(ctx.spark, f"{wl.name}-{ctx.seed}")

    lead = wl if wl.needs_spark else WORKLOADS["suite_audio"](ctx)
    order = [lead] + [w(ctx) for n, w in WORKLOADS.items()
                      if n != lead.name and w.needs_spark]
    for w in order:
        if w is not wl:
            w.build()
    tally = {"attempted": 0, "failed": 0}

    def attempt(fn):
        """Run one checked step; an exception or a wrong output counts as
        a failed iteration."""
        tally["attempted"] += 1
        try:
            ok = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        tally["failed"] += not ok
        return ok

    for w in order:
        w.open(ctx.spark)
        w.check_setup()
        if w is lead:
            # one warm-up only: three would push the traced run, which
            # also runs every other layer, toward the 180 s run limit
            attempt(lambda: w.warm_up(1))
        t0 = time.perf_counter()
        with tracer.span(w.name):
            attempt(lambda: w.iterate(tracer))
        wall = time.perf_counter() - t0
        if w is lead:
            # plain iteration AFTER the traced one: the JVM still speeds up
            # from one iteration to the next, so the difference is an upper
            # bound on what spans and job descriptions cost
            t0 = time.perf_counter()
            attempt(lambda: w.iterate(NO_TRACE))
            metrics["trace.wall_s"] = wall
            metrics["trace.overhead_s"] = wall - (time.perf_counter() - t0)

        def layer_metrics():
            metrics.update(w.layers(tracer, wall))
            return True

        attempt(layer_metrics)

    suite = next(w for w in order if w.name == "suite_audio")
    t0 = time.perf_counter()
    metrics.update(kernel.measure(kernel.load_sample(suite.clips_dir)))
    metrics["kernel.harness_s"] = time.perf_counter() - t0
    stop_spark(ctx.spark)

    layers = tracing.parse_event_log(log_dir)

    def total(prefix: str, key: str) -> float:
        return sum(v.get(key, 0.0) for d, v in layers.items()
                   if d == prefix or d.startswith(prefix + "."))

    metrics.update({
        "checks.task_s": total("checks", "task_s"),
        "checks.input_mb": total("checks", "input_bytes") / 2**20,
        "checks.shuffle_write_mb": total("checks", "shuffle_write_bytes") / 2**20,
        "audio.task_s": total("audio", "task_s"),
        "audio.py_worker_s": total("audio", "py_worker_ms") / 1e3,
        "audio.to_py_mb": total("audio", "to_py_bytes") / 2**20,
        "audio.from_py_mb": total("audio", "from_py_bytes") / 2**20,
        "checkpoint.task_s": total("checkpoint", "task_s"),
        "trace.failed_frac": tally["failed"] / tally["attempted"],
    })
    tracer.write(os.path.join(CACHE, f"trace-{wl.name}-{ctx.seed}.jsonl"))
    return {"correct": tally["failed"] == 0, **tally, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description="tsad-spark benchmark")
    ap.add_argument("--workload", required=True, choices=BENCH_WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or not 0 < args.seconds <= MAX_SECONDS:
        ap.error(f"--seed must be >= 0 and --seconds in (0, {MAX_SECONDS}]")
    if not os.path.isfile(os.path.join(ROOT, "engine", "runner.py")):
        print(f"perfbench: no engine sources in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    # the engine must import in the driver and in every Python worker the
    # JVM starts, wherever the benchmark is launched from
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # the engine's defaults only: no TSAD_* overrides from the environment
    for k in [k for k in os.environ if k.startswith("TSAD_")]:
        del os.environ[k]

    from workloads import WORKLOADS, Context

    ctx = Context(ROOT, CACHE, args.seed, len(os.sched_getaffinity(0)))
    # temporary files (Spark's block manager and shuffle files, Python's and
    # the JVM's temp dirs) stay inside the checkout and go with the run
    tmp = os.path.join(ctx.scratch, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    wl = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    wl.build()
    excluded = time.perf_counter() - t0

    try:
        if args.trace:
            rss = PeakRss()
            rss.start()
            result = run_traced(wl, ctx)
            result["metrics"]["peak_rss_mb"] = rss.stop()
        else:
            result = run_untraced(wl, ctx, args.seconds, excluded)
    finally:
        shutil.rmtree(ctx.scratch, ignore_errors=True)
        reap()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(result["metrics"]) != set(declared):
        print(f"perfbench: metrics {sorted(set(result['metrics']) ^ set(declared))} "
              "are emitted or declared in BENCHMARK.json but not both", file=sys.stderr)
        return 1
    result["metrics"] = {k: {"value": v, "unit": declared[k]}
                         for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
