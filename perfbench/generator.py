"""Open-loop frame generator for the ``gateway_live`` workload.

Run as its own process with one thread.  It publishes one frame file every
``gap_ms``, to the listener directories in turn, on a schedule fixed at
start: a slow gateway never slows the generator.  Each file is written
under a hidden name (Spark's file source skips names starting with ``.``)
and then renamed into place, so a reader never sees half a file.

The schedule also fixes where each file lands within the pipeline's
trigger interval.  Spark's processing-time trigger fires on multiples of
``trigger_ms`` since the epoch, and ``t0`` is such a multiple; file ``j``
lands ``((j mod phases) + 1/2) / phases`` of an interval after a trigger.
So every run samples the same spread of waits for the next trigger, and
the run-to-run spread of latency is the pipeline's own.

Frame lines are ``node seq sched_ms v...``: 32 nodes, a fixed arity per
node, ``seq`` unique across the run and ``sched_ms`` the file's scheduled
publish time in epoch milliseconds.  About 1% of lines are ``>`` info frames
and about 1% carry a non-numeric token; both belong in the dead-letter sink.

    python3 generator.py --dirs A,B --seed 1 --t0-ms <epoch ms> --first 8 \
        --files 18 --gap-ms 1500 --trigger-ms 200 --phases 4 --per-file 500

prints one JSON line when done: ``{"files": n, "late_max_s": x}``.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

N_NODES = 32
INFO_SHARE = 0.01
BAD_SHARE = 0.01
KIND_VALID, KIND_INFO, KIND_BAD = "valid", "info_frame", "non_numeric"


def node_arity(seed: int) -> list[int]:
    """Number of readings after ``seq sched_ms`` for each node (1 to 4)."""
    return list(np.random.default_rng([seed, 7]).integers(1, 5, N_NODES))


def schedule(t0_ms: int, files: int, gap_ms: int, trigger_ms: int,
             phases: int) -> list[int]:
    """Scheduled publish time (epoch ms) of each open-loop file, in order."""
    return [t0_ms + j * gap_ms + ((2 * (j % phases) + 1) * trigger_ms) // (2 * phases)
            for j in range(files)]


def file_frames(seed: int, file: int, per_file: int, sched_ms: int,
                arity: list[int]) -> list[tuple[str, str, int]]:
    """The (line, kind, seq) triples of the run's ``file``-th file."""
    rng = np.random.default_rng([seed, file])
    draw = rng.random(per_file)
    nodes = rng.integers(0, N_NODES, per_file)
    vals = rng.integers(-1000, 1001, (per_file, 4))
    out = []
    for i in range(per_file):
        seq = file * per_file + i
        node = int(nodes[i])
        if draw[i] < INFO_SHARE:
            out.append((f"> info {seq}", KIND_INFO, seq))
            continue
        readings = " ".join(str(int(v)) for v in vals[i, : arity[node]])
        line = f"{node} {seq} {sched_ms} {readings}"
        if draw[i] < INFO_SHARE + BAD_SHARE:
            out.append((line + " 12x4", KIND_BAD, seq))
        else:
            out.append((line, KIND_VALID, seq))
    return out


def file_text(seed: int, file: int, per_file: int, sched_ms: int,
              arity: list[int]) -> str:
    lines = file_frames(seed, file, per_file, sched_ms, arity)
    return "\n".join(line for line, _, _ in lines) + "\n"


def publish_file(d: str, file: int, text: str) -> None:
    """Write ``text`` as file number ``file`` of directory ``d``, atomically."""
    tmp = os.path.join(d, f".f{file:06d}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(d, f"f{file:06d}.txt"))


def publish(dirs: list[str], seed: int, first: int, sched_ms: list[int],
            per_file: int) -> dict:
    """Publish files ``first``, ``first + 1``, ... at ``sched_ms``; file
    ``j`` goes to ``dirs[j mod len(dirs)]``."""
    arity = node_arity(seed)
    late_max = 0.0
    for i, due_ms in enumerate(sched_ms):
        j = first + i
        text = file_text(seed, j, per_file, due_ms, arity)
        delay = due_ms / 1000.0 - time.time()
        if delay > 0:
            time.sleep(delay)
        publish_file(dirs[j % len(dirs)], j, text)
        late_max = max(late_max, time.time() - due_ms / 1000.0)
    return {"files": len(sched_ms), "late_max_s": late_max}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--dirs", required=True, help="comma-separated listener dirs")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--t0-ms", type=int, required=True,
                    help="epoch ms of the schedule's start, a multiple of --trigger-ms")
    ap.add_argument("--first", type=int, required=True,
                    help="number of the first file (earlier ones are the warm-up's)")
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--gap-ms", type=int, required=True)
    ap.add_argument("--trigger-ms", type=int, required=True)
    ap.add_argument("--phases", type=int, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    a = ap.parse_args()
    sched = schedule(a.t0_ms, a.files, a.gap_ms, a.trigger_ms, a.phases)
    res = publish(a.dirs.split(","), a.seed, a.first, sched, a.per_file)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
