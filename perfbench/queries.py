"""The closed-loop query workloads: ``batch_analytics`` and ``stream_catchup``.

One query runs at a time.  A correctness pass collects every result and
doubles as the warm-up (its cost is set-up); timed passes then run each
query through the noop sink.  After the timed passes every collected result
is compared with the query's DuckDB oracle over the same parquet files.
"""

from __future__ import annotations

import os
import time

import duckdb

import procstat
from stats import median, percentile


def confine_scratch(root: str) -> None:
    """Map the suite's fixed scratch roots into ``root``, so that a run
    writes only inside its checkout.

    The roots are absolute paths; ``statestore_extra`` names both, and other
    suite modules spell them out when they build a path with
    ``os.path.join`` (often after a function-local ``import os``).  So the
    mapping wraps ``os.path.join`` itself; other paths are untouched."""
    import posixpath

    from oem_gateway_spark.suite import statestore_extra

    fixed_roots = (statestore_extra._FALLBACK_BASE, statestore_extra._TMPFS_BASE)
    os.makedirs(root, exist_ok=True)
    join = posixpath.join

    def mapped_join(a, *rest):
        for fixed in fixed_roots:
            if isinstance(a, str) and (a == fixed or a.startswith(fixed + "/")):
                a = root + a[len(fixed):]
                break
        return join(a, *rest)

    posixpath.join = mapped_join
    statestore_extra._TMPFS_BASE = root
    statestore_extra._FALLBACK_BASE = root


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    from oem_gateway_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def run(ctx, names: list[str]) -> dict:
    """Run the workload; returns the harness result fields."""
    from oem_gateway_spark.operators.dedup import release_caches
    from oem_gateway_spark.suite import REGISTRY
    from tests.oracle_harness import compare

    spark, spans, sf_dir = ctx.spark, ctx.spans, ctx.data_dir
    planning = None
    if ctx.trace:
        from tracing import PlanningTimes

        planning = PlanningTimes(spark)
    failures: list[str] = []
    attempted = 0

    # Correctness pass = warm-up: collect each result (untimed, set-up).
    results = {}
    with spans.span("warmup"):
        for name in names:
            attempted += 1
            try:
                with spans.span("build", query=name, phase="warmup"):
                    df = REGISTRY[name].fn(spark, sf_dir)
                with spans.span("exec", query=name, phase="warmup"):
                    results[name] = df.toPandas()
                release_caches(df)
            except Exception as e:  # noqa: BLE001 - a failed query is scored
                failures.append(f"{name}: raised {e!r:.300}")

    # Timed passes: whole passes, as many as fit in --seconds but at least
    # three.  The first timed pass still runs slower than the later ones, so
    # the medians must come from a later pass: with a minimum of two, runs
    # where only two passes fit averaged the first one in, and whether two
    # or three fit split the runs into a slow and a fast group.
    lat: dict[str, list[float]] = {name: [] for name in names}
    pass_walls: list[float] = []
    build_s = exec_s = plan_s = 0.0
    t_start = ctx.mark_timed_start()
    cpu0, _ = procstat.sample(ctx.jvm)
    while len(pass_walls) < 3 or (
            time.time() - t_start + median(pass_walls) <= ctx.seconds):
        p0 = time.time()
        for name in names:
            attempted += 1
            try:
                q0 = time.time()
                with spans.span("build", query=name, phase=len(pass_walls)):
                    df = REGISTRY[name].fn(spark, sf_dir)
                if planning:
                    n0 = planning.settle()
                q1 = time.time()
                with spans.span("exec", query=name, phase=len(pass_walls)):
                    df.write.format("noop").mode("overwrite").save()
                q2 = time.time()
                if planning:
                    planning.settle()
                    # Only the noop write ran since ``n0``: its own executions.
                    plan_s += sum(s for _, s in planning.records[n0:])
                release_caches(df)
            except Exception as e:  # noqa: BLE001 - a failed query is scored
                failures.append(f"{name}: raised {e!r:.300}")
                continue
            build_s += q1 - q0
            exec_s += q2 - q1
            lat[name].append(q2 - q0)
        pass_walls.append(time.time() - p0)
    t_end = time.time()
    cpu1, _ = procstat.sample(ctx.jvm)
    n_pass = len(pass_walls)

    # Oracle check, outside the timed window.
    con = _duck(sf_dir)
    for name, pdf in results.items():
        oracle = REGISTRY[name].oracle
        if oracle is None:
            if len(pdf) == 0:
                failures.append(f"{name}: rows-only query returned no rows")
            continue
        errs = compare(pdf, con.sql(oracle).df(), name)
        if errs:
            failures.append("; ".join(errs)[:500])
    con.close()

    # A query's latency is its median over the timed passes; the workload's
    # percentiles are taken over queries (p50: the typical query, p99: about
    # the slowest one).
    per_query = [median(v) for v in lat.values() if v]
    p50, n = percentile(per_query, 50)
    p99, _ = percentile(per_query, 99)
    return {
        "window": (t_start, t_end),
        "passes": n_pass,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "samples": n,
        "e2e": {
            "latency_p50_s": p50,
            "latency_p99_s": p99,
            "wall_s": median(pass_walls),
            "cpu_s": (cpu1 - cpu0) / n_pass,
        },
        "layers": {
            "suite.build_s": build_s / n_pass,
            "suite.exec_s": exec_s / n_pass,
            "catalyst.planning_s": plan_s / n_pass,
        },
    }
