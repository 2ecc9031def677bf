"""Unit tests of the benchmark's helpers: /proc readers, percentiles,
the emoncms payload decoder, the frame generator and the trace reducers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

import generator as gen
import procstat
import tracing
import gateway
from gateway import decode_bulk
from stats import median, percentile


# ------------------------------------------------------------------ stats

def test_percentile_matches_numpy_and_counts_samples():
    xs = list(np.random.default_rng(3).exponential(2.0, 257))
    for q in (0, 25, 50, 90, 99, 100):
        value, n = percentile(xs, q)
        assert value == pytest.approx(float(np.percentile(xs, q)))
        assert n == 257


def test_percentile_small_samples():
    assert percentile([5.0], 99) == (5.0, 1)
    assert percentile([1.0, 3.0], 50) == (2.0, 2)
    assert median([3, 1, 2]) == 2


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


# --------------------------------------------------------------- procstat

def test_parse_stat_handles_spaces_and_parens_in_name():
    tck = os.sysconf("SC_CLK_TCK")
    fields = ["S", "42"] + ["0"] * 9 + [str(3 * tck), str(tck)] + ["0"] * 30
    text = "1234 (odd) name (x)) " + " ".join(fields)
    ppid, cpu = procstat.parse_stat(text)
    assert ppid == 42
    assert cpu == pytest.approx(4.0)


def test_parse_statm_rss_is_pages_times_page_size():
    assert procstat.parse_statm_rss("100 25 3 1 0 20 0") == 25 * os.sysconf("SC_PAGE_SIZE")


def test_sample_covers_child_processes():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.time()\nwhile time.time()-t<0.6: pass"])
    try:
        time.sleep(0.4)
        assert child.pid in procstat.tree(os.getpid())
        assert child.pid in procstat.measured(os.getpid())
        cpu, rss = procstat.sample(os.getpid())
        own_cpu, own_rss = procstat.parse_stat(open("/proc/self/stat").read())[1], 0
        assert cpu > own_cpu
        assert rss > 0
    finally:
        child.wait(timeout=10)
    assert child.returncode == 0


def test_peak_rss_sampler_sees_current_process():
    with procstat.PeakRss(os.getpid(), interval_s=0.01) as peak:
        time.sleep(0.05)
    assert peak.peak >= procstat.sample(os.getpid())[1] // 2 > 0


# ---------------------------------------------------- emoncms payload decode

def test_decode_bulk_inverts_the_sinks_encoder():
    from oem_gateway_spark.sinks.emoncms import EmoncmsSink, encode_bulk

    send = 1_700_000_000.0
    rows = [(send - 2.0, 7, [12.0, 1_700_000_000_123.0, -5.0]),
            (send, 31, [13.0, 1_700_000_000_223.0, 0.5])]
    sink = EmoncmsSink(apikey="secret")
    url = sink.build_url(encode_bulk(rows, send), send)
    assert decode_bulk(url) == [[-2, 7, 12, 1_700_000_000_123, -5],
                                [0, 31, 13, 1_700_000_000_223, 0.5]]


# -------------------------------------------------------------- generator

def test_file_frames_is_seeded_and_plants_both_reject_kinds():
    arity = gen.node_arity(5)
    a = gen.file_frames(5, 3, 2000, 1234, arity)
    assert a == gen.file_frames(5, 3, 2000, 1234, arity)
    assert a != gen.file_frames(6, 3, 2000, 1234, gen.node_arity(6))
    kinds = [k for _, k, _ in a]
    assert 0 < kinds.count(gen.KIND_INFO) < 60
    assert 0 < kinds.count(gen.KIND_BAD) < 60
    for line, kind, seq in a:
        toks = line.split()
        if kind == gen.KIND_VALID:
            assert toks[1:3] == [str(seq), "1234"]
            assert len(toks) == 3 + arity[int(toks[0])]
        elif kind == gen.KIND_INFO:
            assert line.startswith(">")


def test_file_j_holds_seqs_of_block_j():
    arity = gen.node_arity(1)
    for j in range(3):
        seqs = [s for _, _, s in gen.file_frames(1, j, 50, 0, arity)]
        assert seqs == list(range(50 * j, 50 * (j + 1)))


def test_schedule_spreads_files_over_the_trigger_interval():
    sched = gen.schedule(1_000_000, 8, 1500, 200, 4)
    assert sched[:4] == [1_000_025, 1_001_575, 1_003_125, 1_004_675]
    # Each phase once per 4 files, half a step from either trigger.
    assert sorted(t % 200 for t in sched[:4]) == [25, 75, 125, 175]
    assert [b - a for a, b in zip(sched, sched[4:])] == [6000] * 4


def test_publish_file_publishes_whole_files_only(tmp_path):
    d = str(tmp_path)
    gen.publish_file(d, 4, gen.file_text(1, 4, 10, 99, gen.node_arity(1)))
    assert os.listdir(d) == ["f000004.txt"]
    assert len(open(os.path.join(d, "f000004.txt")).read().splitlines()) == 10


def test_generator_process_publishes_the_schedule(tmp_path):
    dirs = [str(tmp_path / "a"), str(tmp_path / "b")]
    for d in dirs:
        os.makedirs(d)
    t0_ms = (int(time.time() * 1000) // 200 + 1) * 200
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(gen.__file__), "generator.py"),
         "--dirs", ",".join(dirs), "--seed", "3", "--t0-ms", str(t0_ms),
         "--first", "2", "--files", "3", "--gap-ms", "50", "--trigger-ms", "200",
         "--phases", "4", "--per-file", "5"],
        capture_output=True, text=True, check=True)
    assert json.loads(out.stdout.splitlines()[-1])["files"] == 3
    assert sorted(os.listdir(dirs[0])) == ["f000002.txt", "f000004.txt"]
    assert os.listdir(dirs[1]) == ["f000003.txt"]


# ------------------------------------------------------ gateway accounting

def test_check_seqs_counts_every_lost_duplicated_or_unexpected_frame():
    failures = []
    assert gateway._check_seqs("x", [3, 1, 2], [1, 2, 3], failures) == 0
    assert failures == []
    # 3 lost, 1 duplicated, 9 unexpected
    assert gateway._check_seqs("x", [1, 1, 2, 9], [1, 2, 3], failures) == 3
    assert len(failures) == 1


# ----------------------------------------------------------- trace reducers

def _progress(run, batch, ts, rows, commit=0, state_rows=0):
    return {"runId": run, "name": "q", "batchId": batch,
            "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": 100 * (batch + 1), "addBatch": 10,
                           "queryPlanning": 5, "getBatch": 1, "latestOffset": 2,
                           "walCommit": 3, "commitOffsets": 4},
            "stateOperators": [{"commitTimeMs": commit, "numRowsTotal": state_rows,
                                "memoryUsedBytes": 8 * state_rows,
                                "numRowsDroppedByWatermark": 1}]}


def test_stream_layers_sums_durations_and_keeps_last_state():
    batches = [_progress("r", 0, "2026-01-01T00:00:00.000Z", 5, 7, 3),
               _progress("r", 1, "2026-01-01T00:00:01.000Z", 6, 9, 4)]
    out = tracing.stream_layers(batches)
    assert out["stream.batches"] == 2
    assert out["stream.add_batch_ms"] == 20
    assert out["stream.trigger_ms.p50"] == 150
    assert out["state.commit_ms"] == 16
    assert out["state.rows_total"] == 4
    assert out["state.memory_bytes"] == 32
    assert out["state.rows_dropped_by_watermark"] == 2
    assert out["sources.input_rows"] == 11


def test_progress_window_skips_idle_events():
    p = tracing.Progress(keep=True)
    busy = _progress("r", 0, "2026-01-01T00:00:00.000Z", 5)
    idle = {"runId": "r", "timestamp": "2026-01-01T00:00:02.000Z",
            "durationMs": {"triggerExecution": 1}}
    p.events = [busy, idle]
    t = tracing._ts(busy["timestamp"])
    assert p.batches(t - 1, t + 10) == [busy]
    assert p.batches(t + 1, t + 10) == []


def _pr(ts, rows, ms, batch=0):
    return {"name": "q", "id": "i", "batchId": batch, "numInputRows": rows,
            "timestamp": ts, "durationMs": {"triggerExecution": ms}}


def test_progress_time_read_is_the_end_of_the_batch_that_reached_the_count():
    p = tracing.Progress(keep=False)
    p.add(_pr("2026-01-01T00:00:00.000Z", 10, 500))
    p.add(_pr("2026-01-01T00:00:01.000Z", 0, 5))
    p.add(_pr("2026-01-01T00:00:02.000Z", 10, 250))
    t = tracing._ts("2026-01-01T00:00:00.000Z")
    assert p.rows_of("q") == 20
    assert p.time_read("q", 10) == pytest.approx(t + 0.5)
    assert p.time_read("q", 11) == pytest.approx(t + 2.25)
    assert p.time_read("q", 21) is None
    assert p.events == []


class _Prog:
    """A ``StreamingQueryProgress`` stand-in."""

    def __init__(self, d):
        self.d = d
        self.batchId, self.numInputRows = d["batchId"], d["numInputRows"]
        self.timestamp, self.json = d["timestamp"], json.dumps(d)


class _Query:
    """A streaming query stand-in that completes one batch per poll of
    ``lastProgress``, from a fixed list of (batch id, rows)."""

    def __init__(self, name, batches):
        self.name, self.todo, self.done = name, list(batches), []

    @property
    def lastProgress(self):  # noqa: N802
        if self.todo:
            b, rows = self.todo.pop(0)
            self.done.append(_Prog(dict(_pr("2026-01-01T00:00:00.000Z", rows, 1, b),
                                        name=self.name)))
        return self.done[-1] if self.done else None

    @property
    def recentProgress(self):  # noqa: N802
        return list(self.done)


def test_wait_read_counts_rows_until_every_query_has_them():
    a = _Query("a", [(0, 5), (1, 5)])
    b = _Query("b", [(0, 10)])
    assert gateway.wait_read([a, b], 10, timeout_s=5)
    assert not gateway.wait_read([_Query("c", [(0, 3)])], 10, timeout_s=0.2)


def test_wait_read_rereads_when_a_batch_ended_between_polls():
    class Skips(_Query):
        @property
        def lastProgress(self):  # noqa: N802
            _Query.lastProgress.fget(self)  # this batch ends unseen
            return _Query.lastProgress.fget(self)

    q = Skips("a", [(0, 4), (1, 3), (2, 3)])
    # Only the re-read finds batch 1; the periodic one would come too late.
    assert gateway.wait_read([q], 10, timeout_s=0.3)


def test_progress_of_queries_reads_each_query_and_checks_the_cap():
    q = _Query("a", [(0, 5), (1, 0), (2, 7)])
    for _ in range(3):
        q.lastProgress  # noqa: B018
    p = tracing.Progress.of_queries([q], cap=10)
    assert p.rows_of("a") == 12 and len(p.events) == 3
    with pytest.raises(RuntimeError):
        tracing.Progress.of_queries([q], cap=3)


def test_event_log_layers_window_and_python_attribution():
    plan = {"nodeName": "MapInArrow", "metrics": [
        {"accumulatorId": 9, "name": "number of output rows"}], "children": []}
    task = lambda finish, rows: {  # noqa: E731
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Finish Time": finish, "Accumulables": [
            {"ID": 9, "Name": "number of output rows", "Update": rows},
            {"ID": 10, "Name": "number of output rows", "Update": 1000},
            {"ID": 11, "Name": "data sent to Python workers", "Update": 5}]},
        "Task Metrics": {"Executor Run Time": 20, "Executor CPU Time": 5_000_000,
                         "JVM GC Time": 1,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                         "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                  "Local Bytes Read": 32},
                         "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Submission Time": 1500},
        {"Event": "SparkListenerJobStart", "Submission Time": 9000},
        task(1600, 7), task(1700, 8), task(9500, 100),
    ]
    out = tracing.event_log_layers(events, 1.0, 2.0)
    assert out["spark.jobs"] == 1
    assert out["spark.tasks"] == 2
    assert out["executor.run_s"] == pytest.approx(0.04)
    assert out["executor.cpu_s"] == pytest.approx(0.01)
    assert out["shuffle.write_bytes"] == 128
    assert out["shuffle.read_bytes"] == 64
    assert out["python.rows_received"] == 15
    assert out["python.data_sent_bytes"] == 10


def test_read_event_log_reads_rolled_directories(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text(json.dumps({"Event": "A"}) + "\n")
    (d / "events_2_app").write_text(json.dumps({"Event": "B"}) + "\n\n")
    (d / "appstatus_app").write_text("")
    assert [e["Event"] for e in tracing.read_event_log(str(tmp_path))] == ["A", "B"]


def test_spans_nest_per_thread_and_record_nothing_when_off():
    on = tracing.Spans(True)
    with on.span("outer"):
        with on.span("inner", query="q"):
            pass
    with on.span("next"):
        pass
    assert [(s["name"], s["parent"]) for s in on.spans] == [
        ("outer", None), ("inner", 0), ("next", None)]
    assert on.spans[1]["query"] == "q"
    assert all(s["end"] >= s["start"] for s in on.spans)
    off = tracing.Spans(False)
    with off.span("outer"):
        pass
    assert off.spans == []
