"""The open-loop ``gateway_live`` workload.

``GatewayPipeline`` runs with two file listeners (merged by the union
path), one emoncms buffer whose ``poster`` is the harness's acking
recorder, the parquet sink and the dead-letter sink, at a 200 ms trigger.
A separate generator process publishes frame files on a fixed schedule
(``generator.py``).  Each frame's latency runs from its scheduled publish
time to the recorder's ack.  The pipeline is drained before ``stop()``, then
the recorder, the parquet sink and the dead-letter sink are checked against
what the generator planted.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from urllib.parse import parse_qs, urlsplit

import generator as gen
import procstat
from stats import median, percentile
from tracing import PROGRESS_CAP, Progress, batch_end

QUERIES = {
    "emoncms": "gateway-sink-emoncms",
    "parquet": "gateway-parquet-sink",
    "dead_letter": "gateway-dead-letter",
}


def decode_bulk(url: str) -> list[list[float]]:
    """Rows ``[dt, node, v...]`` of an emoncms ``input/bulk.json`` URL."""
    data = parse_qs(urlsplit(url).query)["data"][0]
    return json.loads(data)


class Recorder:
    """The emoncms ``poster``: acks every post and keeps (ack time, url)."""

    def __init__(self, spans):
        self.spans = spans
        self.posts: list[tuple[float, str]] = []
        self._lock = threading.Lock()

    def __call__(self, url: str) -> str:
        with self.spans.span("poster", bytes=len(url)):
            with self._lock:
                self.posts.append((time.time(), url))
        return "ok"


def _planted(seed: int, sched_ms: list[int], per_file: int) -> dict[str, list[int]]:
    """Planted frames of every file of the run: {kind: [seq...]}."""
    arity = gen.node_arity(seed)
    kinds: dict[str, list[int]] = {gen.KIND_VALID: [], gen.KIND_INFO: [], gen.KIND_BAD: []}
    for j, due_ms in enumerate(sched_ms):
        for _, kind, seq in gen.file_frames(seed, j, per_file, due_ms, arity):
            kinds[kind].append(seq)
    return kinds


def _moments(seqs) -> tuple[int, int, int]:
    return len(seqs), sum(seqs), sum(s * s for s in seqs)


def _check_seqs(where: str, got: list[int], want: list[int],
                failures: list[str]) -> int:
    """Compares the seqs a sink delivered with the planted valid ones by
    count, sum and sum of squares; returns the number of frames lost,
    duplicated or unexpected."""
    seen: dict[int, int] = {}
    for s in got:
        seen[s] = seen.get(s, 0) + 1
    planted = set(want)
    lost = len(planted - seen.keys())
    dups = sum(n - 1 for n in seen.values())
    wrong = len(seen.keys() - planted)
    if _moments(got) != _moments(want) or lost or dups or wrong:
        failures.append(f"{where}: seq moments {_moments(got)} != {_moments(want)}; "
                        f"lost {lost}, dup {dups}, unexpected {wrong}")
    return lost + dups + wrong


def wait_read(queries, n_lines: int, timeout_s: float) -> bool:
    """Waits until every query in ``queries`` has read ``n_lines`` input
    rows in all; False if that took longer than ``timeout_s``.

    It polls each query's ``lastProgress`` and reads its whole
    ``recentProgress`` when a micro-batch may have ended unseen between two
    polls, so the waiting costs the session little."""
    rows: dict[str, dict[int, int]] = {q.name: {} for q in queries}

    def note(q, ps) -> None:
        seen = rows[q.name]
        for p in ps:
            if p is not None:
                seen[p.batchId] = max(seen.get(p.batchId, 0), p.numInputRows)

    for q in queries:
        note(q, q.recentProgress)
    deadline = time.time() + timeout_s
    polls = 0
    while True:
        pending = [q for q in queries if sum(rows[q.name].values()) < n_lines]
        if not pending:
            return True
        if time.time() >= deadline:
            return False
        time.sleep(0.02)
        polls += 1
        for q in pending:
            p = q.lastProgress
            if p is None or polls % 25 == 0 or p.batchId > max(rows[q.name], default=-1) + 1:
                note(q, q.recentProgress)
            else:
                note(q, [p])


def run(ctx, cfg: dict) -> dict:
    from pyspark.sql import functions as F

    from oem_gateway_spark.config import BufferConfig, GatewayConfig, ListenerConfig
    from oem_gateway_spark.streaming.pipeline import GatewayPipeline

    spark, spans = ctx.spark, ctx.spans
    listen = [os.path.join(ctx.run_dir, "listen", f"l{i}")
              for i in range(cfg["listeners"])]
    for d in listen:
        os.makedirs(d)
    ckpt = os.path.join(ctx.run_dir, "ckpt")
    pq_dir = os.path.join(ctx.run_dir, "readings")
    config = GatewayConfig(
        listeners={os.path.basename(d): ListenerConfig(
            name=os.path.basename(d), type="file", path=d) for d in listen},
        buffers={"emoncms": BufferConfig(name="emoncms", apikey="bench")},
        trigger_ms=cfg["trigger_ms"],
    )
    recorder = Recorder(spans)
    pipeline = GatewayPipeline(spark, config, ckpt, poster=recorder,
                               parquet_sink_dir=pq_dir)
    with spans.span("pipeline.start"):
        queries = list(pipeline.start())  # stop() empties the list it returns
    if sorted(q.name for q in queries) != sorted(QUERIES.values()):
        raise RuntimeError(f"unexpected gateway queries {[q.name for q in queries]}")

    per_file, gap_ms, trigger_ms = cfg["frames_per_file"], cfg["gap_ms"], cfg["trigger_ms"]
    limit_s = cfg["latency_limit_s"]
    n_timed = ctx.seconds * 1000 // gap_ms

    def wait_drained(n_lines: int) -> bool:
        return wait_read(queries, n_lines, cfg["drain_timeout_s"])

    # Warm-up, untimed: ``warmup_files`` files, one every ``warmup_gap_ms``
    # (faster than the sinks' micro-batches, so each sink runs them back to
    # back), delivered by every sink.  A fresh JVM keeps getting faster for
    # its first few tens of thousands of frames.  ``sched_ms`` holds every
    # file's scheduled publish time; file j holds seqs j * per_file to
    # (j + 1) * per_file - 1.
    arity = gen.node_arity(ctx.seed)
    sched_ms: list[int] = []
    with spans.span("warmup"):
        for j in range(cfg["warmup_files"]):
            due_ms = int(time.time() * 1000) if j == 0 else sched_ms[-1] + cfg["warmup_gap_ms"]
            text = gen.file_text(ctx.seed, j, per_file, due_ms, arity)
            time.sleep(max(0.0, due_ms / 1000.0 - time.time()))
            gen.publish_file(listen[j % len(listen)], j, text)
            sched_ms.append(due_ms)
        if not wait_drained(len(sched_ms) * per_file):
            raise RuntimeError("gateway warm-up did not drain")
    first_timed = len(sched_ms)

    # The open loop starts on a trigger boundary about 1 s from now, which
    # lets the generator process start first.
    t0_ms = (int(time.time() * 1000) + 1000) // trigger_ms * trigger_ms
    sched_ms += gen.schedule(t0_ms, n_timed, gap_ms, trigger_ms, cfg["phases"])
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ctx.bench_dir, "generator.py"),
         "--dirs", ",".join(listen), "--seed", str(ctx.seed),
         "--t0-ms", str(t0_ms), "--first", str(first_timed),
         "--files", str(n_timed), "--gap-ms", str(gap_ms),
         "--trigger-ms", str(trigger_ms), "--phases", str(cfg["phases"]),
         "--per-file", str(per_file)],
        stdout=subprocess.PIPE, text=True,
    )
    ctx.children.append(proc)
    # The timed window opens at the first file's scheduled time.
    t_timed = ctx.mark_timed_start(sched_ms[first_timed] / 1000.0)
    time.sleep(max(0.0, t_timed - time.time()))
    cpu0, _ = procstat.sample(ctx.jvm)
    out, _ = proc.communicate(timeout=ctx.seconds + 60)
    if proc.returncode != 0:
        raise RuntimeError(f"generator exited with {proc.returncode}")
    gen_res = json.loads(out.strip().splitlines()[-1])

    # Drain: every sink query has read every published line.
    n_lines = len(sched_ms) * per_file
    ok = wait_drained(n_lines)
    t_drained = time.time()
    cpu1, _ = procstat.sample(ctx.jvm)
    with spans.span("pipeline.stop"):
        pipeline.stop()
    ctx.progress = Progress.of_queries(queries, PROGRESS_CAP)

    # ---- correctness, failures and latency
    kinds = _planted(ctx.seed, sched_ms, per_file)
    valid = kinds[gen.KIND_VALID]
    failures: list[str] = []
    if not ok:
        failures.append("pipeline did not drain within "
                        f"{cfg['drain_timeout_s']} s of the generator stopping")
    acks = [(ack, int(r[2])) for ack, url in recorder.posts for r in decode_bulk(url)]
    failed_emoncms = _check_seqs("emoncms", [s for _, s in acks], valid, failures)
    acked = dict((s, ack) for ack, s in acks)  # a duplicate counts at its last ack
    # Frames of one file arrive together: the files are the independent
    # latency samples.
    by_file: dict[int, list[float]] = {}
    for s in valid:
        if s in acked and s // per_file >= first_timed:
            by_file.setdefault(s // per_file, []).append(
                acked[s] - sched_ms[s // per_file] / 1000.0)
    lat = [x for xs in by_file.values() for x in xs]
    late = sum(1 for x in lat if x > limit_s)
    if late:
        failures.append(f"{late} frames acked later than {limit_s} s")

    seq = F.element_at("values", 1).cast("long")
    pq_seqs = [r[0] for r in spark.read.parquet(pq_dir).select(seq).collect()]
    failed_parquet = _check_seqs("parquet sink", pq_seqs, valid, failures)

    dl = {r[0]: r[1] for r in spark.read.parquet(os.path.join(ckpt, "dead-letter"))
          .groupBy("reject_reason").count().collect()}
    planted = {gen.KIND_INFO: len(kinds[gen.KIND_INFO]),
               gen.KIND_BAD: len(kinds[gen.KIND_BAD])}
    wrong_rejects = sum(abs(dl.get(r, 0) - planted.get(r, 0))
                        for r in dl.keys() | planted.keys())
    if wrong_rejects:
        failures.append(f"dead letter by reason {dl} != planted {planted}")

    # Per-file delivery: scheduled publish to the end of the micro-batch
    # with which the last of the three sink queries had read the file.
    delivered = []
    for j in range(first_timed, len(sched_ms)):
        ends = [ctx.progress.time_read(q, (j + 1) * per_file) for q in QUERIES.values()]
        if None not in ends:
            delivered.append(max(ends) - sched_ms[j] / 1000.0)
    # Over the whole window, p99 is about the slowest file, which one stall
    # of the host sets.  So p99 is taken per stretch of ``phases``
    # consecutive files (one per trigger phase), and the run reports the
    # median over the stretches.
    p50, n_frames = percentile(lat, 50)
    timed = sorted(by_file)
    p99_by_stretch = [
        percentile([x for j in timed[k:k + cfg["phases"]] for x in by_file[j]], 99)[0]
        for k in range(0, len(timed), cfg["phases"])]
    timed_posts = [(a, u) for a, u in recorder.posts if a >= t_timed]
    n_timed_rows = sum(len(decode_bulk(u)) for _, u in timed_posts)
    layers = {
        "frames.rejected.info_frame": dl.get(gen.KIND_INFO, 0),
        "frames.rejected.non_numeric": dl.get(gen.KIND_BAD, 0),
        "frames.reject_ratio": sum(dl.values()) / n_lines,
        "sinks.emoncms.posts": len(timed_posts),
        "sinks.emoncms.rows_per_post": n_timed_rows / max(len(timed_posts), 1),
        "sinks.emoncms.payload_bytes": sum(len(u) for _, u in timed_posts),
        "generator.late_s": gen_res["late_max_s"],
    }
    if ctx.trace:
        layers.update(_progress_layers(ctx.progress, t_timed, t_drained,
                                       sched_ms, per_file))
    return {
        "window": (t_timed, t_drained),
        "passes": 1,
        "attempted": n_lines,
        "failed": failed_emoncms + late + failed_parquet + wrong_rejects,
        "failures": failures,
        "samples": len(by_file),
        "frames": n_frames,
        "file_latency_s": [round(median(v), 4) for _, v in sorted(by_file.items())],
        "file_delivery_s": [round(x, 4) for x in delivered],
        "p99_by_stretch_s": [round(x, 4) for x in p99_by_stretch],
        "offered_rate_frames_per_s": per_file * 1000 / gap_ms,
        "e2e": {
            "latency_p50_s": p50,
            "latency_p99_s": median(p99_by_stretch),
            "wall_s": median(delivered),
            "cpu_s": cpu1 - cpu0,
        },
        "layers": layers,
    }


def _progress_layers(progress, start: float, end: float, sched_ms: list[int],
                     per_file: int) -> dict:
    """Each sink query's ``addBatch`` time over the window, and the emoncms
    sink's lag behind the generator (lines published on the schedule minus
    lines read) at each of its progress events inside the window."""
    out = {}
    for sink, qname in QUERIES.items():
        out[f"sinks.{sink}.add_batch_ms"] = sum(
            p["durationMs"]["addBatch"] for p in progress.batches(start, end)
            if p["name"] == qname)
    lags, read = [], 0
    for p in sorted(progress.events, key=batch_end):
        if p.get("name") == QUERIES["emoncms"] and "addBatch" in p["durationMs"]:
            read += p["numInputRows"]
            t = batch_end(p)
            if t >= start:
                published = per_file * sum(1 for due in sched_ms if due / 1000.0 <= t)
                lags.append(published - read)
    out["sources.lag_frames.max"] = max(lags, default=0)
    out["sources.lag_frames.end"] = lags[-1] if lags else 0
    return out
