"""Benchmark harness for oem_gateway_spark.

    python3 perfbench/run.py --workload gateway_live --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 25

Run from the root of a checkout.  Workloads and their parameters are in
``perfbench/design.json``; metric names and units in ``BENCHMARK.json``.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the Spark event log is on, streaming progress is kept and
it carries the per-layer metrics instead (the end-to-end values
of the traced run go to stderr, to measure the tracing overhead).  Every
run works in a fresh directory under ``.perfbench/`` and removes it at the
end; a traced run leaves its spans in ``.perfbench/trace-<workload>-<seed>.json``.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN_TIMEOUT_S = 170  # a run must end within 180 s


def _process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, run_dir: str):
        from tracing import Spans

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.bench_dir = BENCH_DIR
        self.data_dir = os.path.join(run_dir, "data")
        self.spans = Spans(self.trace)
        self.children: list = []
        self.spark = self.jvm = self.progress = None
        self.session_s = 0.0
        self.t_process = _process_start()
        self.t_timed: float | None = None

    def mark_timed_start(self, t: float | None = None) -> float:
        """Record the first timed operation (end of set-up)."""
        self.t_timed = time.time() if t is None else t
        return self.t_timed


def _session(ctx: Context, cpus: int):
    import tracing
    from oem_gateway_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        "spark.local.dir": os.path.join(ctx.run_dir, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(ctx.run_dir, 'tmp')} "
            f"-Dderby.system.home={ctx.run_dir} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+AlwaysPreTouch "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.streaming.numRecentProgressUpdates": str(tracing.PROGRESS_CAP),
    }
    if ctx.trace:
        os.makedirs(os.path.join(ctx.run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(ctx.run_dir, "eventlog"),
        })
    return get_spark(app_name=f"perfbench-{ctx.workload}",
                     master=f"local[{cpus}]", extra_conf=conf)


def _layers(ctx: Context, res: dict, names: list[str]) -> dict:
    """Per-layer metrics of a traced run (after the session stopped)."""
    from tracing import event_log_layers, read_event_log, stream_layers

    start, end = res["window"]
    per = res["passes"]
    ev = event_log_layers(read_event_log(os.path.join(ctx.run_dir, "eventlog")),
                          start, end)
    st = stream_layers(ctx.progress.batches(start, end))
    out = {name: 0.0 for name in names}
    out.update({k: v / per for k, v in {**ev, **st}.items()})
    out["stream.trigger_ms.p50"] = st["stream.trigger_ms.p50"]
    out["stream.trigger_ms.p99"] = st["stream.trigger_ms.p99"]
    out["session.start_s"] = ctx.session_s
    out.update(res["layers"])
    out["catalyst.planning_s"] = (res["layers"].get("catalyst.planning_s", 0.0)
                                  + st["stream.query_planning_ms"] / 1e3 / per)
    unknown = set(out) - set(names)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return _run_all(args)

    if not (os.path.isdir(os.path.join(ROOT, "oem_gateway_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py"))):
        print("perfbench: run from a checkout of oem_gateway_spark "
              "(package or tests/oracle_harness.py not found)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(BENCH_DIR, "design.json")) as f:
        design = json.load(f)
    wl = design["workloads"].get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench",
                           f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    # Spark's Python workers must import the package from this checkout;
    # every temp file stays inside the run directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_FAST_TMP"] = "0"
    os.environ["SPARK_GRAFT_CPUS"] = str(design["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = design["driver_memory"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["MALLOC_ARENA_MAX"] = "2"
    sys.path.insert(0, ROOT)

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(RUN_TIMEOUT_S)
    ctx = Context(args, run_dir)
    try:
        result = _run(ctx, wl, bench)
    finally:
        signal.alarm(0)
        for proc in ctx.children:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
        if ctx.spark is not None:
            ctx.spark.stop()
            _stop_jvm()
        if ctx.trace:
            ctx.spans.dump(
                os.path.join(ROOT, ".perfbench",
                             f"trace-{args.workload}-{args.seed}.json"),
                progress=ctx.progress.events if ctx.progress else [])
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """End the session's JVM and wait for it: PySpark starts it with a pipe
    on its stdin and the JVM exits when that pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def _run_all(args) -> int:
    """Run every workload of BENCHMARK.json, one process each, and print
    each result line after its workload's name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    status = 0
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(name, lines[-1] if lines else "(no result)", flush=True)
        status = status or proc.returncode
    return status


def _run(ctx: Context, wl: dict, bench: dict) -> dict:
    import procstat
    from tracing import Progress, ProgressListener

    if wl["kind"] == "queries":
        import datagen

        with ctx.spans.span("datagen"):
            datagen.write_tables(ctx.data_dir, ctx.seed, wl["scale"])
    t = time.time()
    with ctx.spans.span("session"):
        ctx.spark = _session(ctx, int(os.environ["SPARK_GRAFT_CPUS"]))
    ctx.session_s = time.time() - t
    ctx.spark.sparkContext.setLogLevel("WARN")
    ctx.jvm = procstat.jvm_pid(ctx.spark)
    if ctx.trace and wl["kind"] == "queries":
        # The registry's stream twins start their own queries, so their
        # progress comes from a listener.  It calls back into this process
        # on every micro-batch, so untraced runs go without it; the gateway
        # reads its own queries' ``recentProgress`` after the run instead.
        ctx.progress = Progress(keep=True)
        ctx.spark.streams.addListener(ProgressListener(ctx.progress))
    with procstat.PeakRss(ctx.jvm) as rss:
        if wl["kind"] == "gateway":
            import gateway

            res = gateway.run(ctx, wl)
        else:
            import queries

            queries.confine_scratch(os.path.join(ctx.run_dir, "scratch"))
            res = queries.run(ctx, wl["queries"])
    e2e = dict(res["e2e"], setup_s=ctx.t_timed - ctx.t_process,
               peak_rss_mb=rss.peak / 2**20)
    for msg in res["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    detail = {"workload": ctx.workload, "seed": ctx.seed, "trace": ctx.trace,
              "passes": res["passes"], "latency_samples": res["samples"],
              "attempted": res["attempted"], "failed": res["failed"],
              "e2e": e2e}
    detail.update({k: res[k] for k in ("frames", "offered_rate_frames_per_s",
                                       "file_latency_s", "file_delivery_s",
                                       "p99_by_stretch_s")
                   if k in res})
    print(json.dumps(detail), file=sys.stderr)
    if ctx.trace:
        ctx.spark.stop()  # flushes the event log
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics = _layers(ctx, res, names)
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        metrics = e2e
    return {
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


if __name__ == "__main__":
    sys.exit(main())
