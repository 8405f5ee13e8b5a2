"""The benchmark workloads.

Both are closed loops with one caller: each query runs only after the
previous one finished. A pass calls every query of the workload once and
materializes its result through the ``noop`` sink; passes repeat until
the run's window is over.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, replace

import probe
from probe import median


@dataclass
class Workload:
    name: str
    queries: tuple[str, ...]
    scale: float  # x sf0.1 row counts
    n_users: int
    tables: tuple[str, ...]
    setups: tuple[str, ...] = ()
    # driver JVM limited to its C1 compiler; see _isolate in run.py
    c1_only: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            # Few large epochs over keyed state and a foreachBatch CDC
            # dispatch. Users are 10x the fixture's per row, so state is
            # large relative to a batch.
            name="stream_replay",
            queries=("is_new_fix_stream", "base_db_stream"),
            scale=0.3,
            n_users=4_500,
            tables=("events", "orders"),
        ),
        Workload(
            # Batch twins of the warehouse core: no streaming query runs,
            # so it is the control for streaming-layer changes. Short
            # queries stress Catalyst/AQE planning and job fan-out. Six of
            # them keep a pass near 5 s, so two or three passes fit a run.
            name="warehouse_batch",
            queries=(
                "order_wide_join",
                "dim_enrichment",
                "uv_first_visit",
                "log_split_counts",
                "json_dead_letter",
                "cdc_materialize",
            ),
            scale=0.25,
            n_users=375,
            tables=("orders", "lineitem", "customer", "nation", "region", "events"),
            c1_only=True,
        ),
    )
}


def tiny(w: Workload) -> Workload:
    """The same workload on tiny inputs, for the smoke tests."""
    return replace(w, scale=0.01, n_users=max(w.n_users // 30, 10))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- closed loops ------------------------------------------------------------


def run_closed(ctx, w: Workload, sf: str) -> dict:
    """Correctness pass (also the warm pass), then timed passes for
    ``ctx.seconds``; with tracing, one more pass under spans."""
    from gmall_flink_0526_spark import plans
    from tests.conftest import assert_matches_oracle, duck_con

    spark, qs, oracle = ctx.spark, plans.queries(), plans.oracle_sql()
    t_check = time.perf_counter()
    con = duck_con(sf)
    attempted, failures = 0, []
    for name in w.queries:
        attempted += 1
        try:
            assert_matches_oracle(qs[name](spark, sf), con, oracle[name], name=name)
        except Exception as exc:  # noqa: BLE001 - every failure is counted and printed
            failures.append(f"{name} (correctness pass): {exc!r}")
    con.close()
    t_check = time.perf_counter() - t_check

    passes, per_query = [], {n: [] for n in w.queries}
    deadline = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < deadline:
        p0 = time.perf_counter()
        for name in w.queries:
            attempted += 1
            t0 = time.perf_counter()
            try:
                _noop(qs[name](spark, sf))
            except Exception as exc:  # noqa: BLE001
                failures.append(f"{name} (timed pass {len(passes)}): {exc!r}")
            per_query[name].append(time.perf_counter() - t0)
        passes.append(time.perf_counter() - p0)

    # a pass made of each query's median call: one slow call does not move it
    query_s = {f"plans.query.{n}_s": median(v) for n, v in per_query.items()}
    out = {
        "attempted": attempted,
        "failures": failures,
        "e2e": {"wall_s": sum(query_s.values())},
        "detail": {"passes": passes, "correctness_pass_s": t_check, **query_s},
    }
    if ctx.trace:
        out["layers"], out["table"] = traced_pass(ctx, w, sf, qs, untraced_wall=out["e2e"]["wall_s"])
        out["layers"].update(query_s)
    return out


def traced_pass(ctx, w: Workload, sf: str, qs, untraced_wall: float):
    """One pass with every layer call under a span, streaming progress
    from the listener and job counts from job groups."""
    from gmall_flink_0526_spark.sources import dimstore, registry
    from gmall_flink_0526_spark.streaming import pipelines, replay

    tracer, spark = ctx.tracer, ctx.spark
    targets = [
        (registry, "write_replay", "sources.write_replay", "sources"),
        (dimstore.DimStore, "merge", "sources.dimstore_merge", "sources"),
        (replay, "replay_stateful", "streaming.replay.replay_stateful", "streaming.replay"),
        (replay, "drain", "streaming.replay.drain", "streaming.replay"),
    ] + [
        (pipelines, n, f"streaming.pipelines.{n}", "streaming.pipelines")
        for n in dir(pipelines)
        if n.endswith("_app") and callable(getattr(pipelines, n))
    ]
    calls = []
    p0 = time.time()
    with probe.instrument(tracer, targets):
        for name in w.queries:
            with tracer.span(f"plans.query.{name}", "plans") as sp, ctx.jobs.call(name) as jobs:
                _noop(qs[name](spark, sf))
            calls.append((name, sp, jobs))
    traced_wall = time.time() - p0
    time.sleep(1.0)  # let the listener bus deliver the last progress events

    layers = {"trace.overhead_s": traced_wall - untraced_wall, "plans.pass_s": traced_wall}
    totals: dict[str, float] = {}
    table = []
    for name, sp, jobs in calls:
        runs = [r for r, ps in ctx.progress.by_run.items() if sp.start <= probe.iso_ts(ps[0]["timestamp"]) <= sp.end]
        epochs = ctx.progress.epochs(runs)
        extra_jobs = ctx.jobs.count(set().union(*[set(ctx.jobs.tracker.getJobIdsForGroup(r)) for r in runs]))
        jobs = {k: jobs[k] + extra_jobs[k] for k in jobs}
        probe.epoch_spans(tracer, epochs, sp.sid, name)
        split = probe.epoch_split(epochs)
        wall = sp.end - sp.start
        row = {"query": name, "wall_s": wall, **split, "outside_s": wall - split["trigger_s"], **jobs}
        table.append(row)
        for k, v in row.items():
            if k != "query":
                totals[k] = totals.get(k, 0.0) + v
                layers[f"streaming.{name}.{k}"] = v
    for k in ("jobs", "stages", "tasks", "tasks_failed"):
        layers[f"plans.{k}"] = totals.get(k, 0.0)
    for k in STREAMING_TOTALS:
        layers[f"streaming.{k}"] = totals.get(k, 0.0)
    layers["streaming.outside_trigger_s"] = totals.get("outside_s", 0.0) if totals.get("epochs") else 0.0
    return layers, table


STREAMING_TOTALS = (
    "epochs",
    "addBatch_s",
    "planning_s",
    "walcommit_s",
    "trigger_s",
    "state_rows",
    "state_memory_bytes",
    "state_update_ms",
    "state_commit_ms",
)
