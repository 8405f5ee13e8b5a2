#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``.perfbench_work/``, untimed); the program under test is
the ``gmall_flink_0526_spark`` package of the same checkout, driven only
through its public functions. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Diagnostics go to stderr. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
E2E_UNITS = {"setup_s": "s", "wall_s": "s"}
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # job and stage counts are read back from the status tracker after
    # each call; keep enough of them for one traced pass
    "spark.ui.retainedJobs": "20000",
    "spark.ui.retainedStages": "20000",
}

sys.path.insert(0, HERE)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Ctx:
    """What one run carries: arguments, the session and the probes."""

    def __init__(self, args, work: str):
        import probe

        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.inputs_dir = os.path.join(work, "inputs")
        self.run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=work)
        self.tracer = probe.Tracer(self.trace)
        self.progress = probe.Progress()
        self.rss = probe.RssSampler()
        self.spark = None
        self.jobs = None


def _isolate(work: str, c1_only: bool) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # Planning-bound queries run two or three timed passes, too few for C2
    # to settle, and its warm-up state made their pass times swing from
    # run to run. stream_replay keeps the default: its foreachBatch jobs
    # slowed and spread more under C1 alone.
    jit = " -XX:TieredStopAtLevel=1" if c1_only else ""
    SPARK_CONF["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}{jit}"
    SPARK_CONF["spark.local.dir"] = os.environ["SPARK_LOCAL_DIRS"]


def _warmup(spark, sf: str, w, cpus: int) -> None:
    """bench.py's warm-up, limited to what the workload touches: parquet
    footers and the Python worker pool. The streaming stack is warmed by
    the untimed correctness pass, not here."""
    from gmall_flink_0526_spark.session import load_tables

    for df in load_tables(spark, sf, *w.tables).values():
        df.limit(1).write.format("noop").mode("overwrite").save()
    spark.range(cpus * 4).repartition(cpus).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def setup(ctx: Ctx, w, sf: str, cpus: int) -> tuple[float, dict]:
    """Session start, warm-up and the workload's named setups, repeated
    ``SETUP_REPS`` times (the session is stopped in between); returns
    the median and the per-part medians."""
    from gmall_flink_0526_spark import plans
    from gmall_flink_0526_spark.session import get_spark

    import probe

    parts: dict[str, list[float]] = {"session.get_spark_s": [], "session.warmup_s": []}
    totals = []
    for rep in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_spark", "session"):
            ctx.spark = get_spark(f"perfbench-{w.name}", cpus=cpus, driver_memory="2g", extra_conf=SPARK_CONF)
        t1 = time.perf_counter()
        if rep == 0:
            parts["session.jvm_start_s"] = [t1 - t0]
        parts["session.get_spark_s"].append(t1 - t0)
        with ctx.tracer.span("session.warmup", "session"):
            _warmup(ctx.spark, sf, w, cpus)
        parts["session.warmup_s"].append(time.perf_counter() - t1)
        for name in w.setups:
            t2 = time.perf_counter()
            with ctx.tracer.span(f"plans.setup.{name}", "plans"):
                plans.setups()[name](ctx.spark, sf)
            parts.setdefault(f"plans.setup.{name}_s", []).append(time.perf_counter() - t2)
        totals.append(time.perf_counter() - t0)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return probe.median(totals), {
        k: probe.median(v) for k, v in parts.items()
    }


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke tests")
    args = ap.parse_args(argv)
    load_start = list(os.getloadavg())
    w = WORKLOADS[args.workload]

    sys.path.insert(0, ROOT)
    try:
        import gmall_flink_0526_spark  # noqa: F401
        import tests.conftest  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: the program is not in {ROOT}: {exc}")
        return 2

    os.makedirs(WORK, exist_ok=True)
    _isolate(WORK, w.c1_only)
    import inputs
    import probe
    from metrics import PER_LAYER
    from workloads import run_closed, tiny

    if args.tiny:
        w = tiny(w)
    ctx = Ctx(args, WORK)
    cpus = len(os.sched_getaffinity(0))
    t_run = time.perf_counter()
    sf = inputs.table_dir(ctx.inputs_dir, args.seed, scale=w.scale, n_users=w.n_users, tables=w.tables)
    with open(os.path.join(sf, "realized.json")) as fh:
        realized = json.load(fh)

    try:
        with ctx.rss:
            setup_s, setup_parts = setup(ctx, w, sf, cpus)
            ctx.jobs = probe.Jobs(ctx.spark)
            if ctx.trace:
                ctx.spark.streams.addListener(ctx.progress.listener())
            res = run_closed(ctx, w, sf)
    finally:
        if ctx.spark is not None:
            _stop_jvm(ctx.spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    for f in res["failures"]:
        log(f"perfbench FAILED: {f}")
    failed = len(res["failures"])
    e2e = {"setup_s": setup_s, **res["e2e"]}
    record = {
        "workload": w.name,
        "seed": args.seed,
        "loadavg_start": load_start,
        "realized_inputs": realized,
        "e2e": e2e,
        "peak_rss_mb": ctx.rss.peak_mb,
        "detail": res["detail"],
        "run_s": time.perf_counter() - t_run,
    }
    if ctx.trace:
        layers = _per_layer(ctx, setup_parts, res["layers"], PER_LAYER)
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
        record["per_query"] = res["table"]
        _print_table(res["table"])
        trace_path = os.path.join(WORK, f"trace-{w.name}-s{args.seed}.json")
        ctx.tracer.dump(trace_path)
        log(f"perfbench: spans written to {trace_path}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    log("perfbench: " + json.dumps(record, default=float))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed, "metrics": metrics}))
    return 0


# span name -> per-layer metric prefix (``<prefix>_s`` and ``<prefix>_calls``)
CALL_SPANS = ("sources.write_replay", "sources.dimstore_merge", "streaming.replay.drain", "streaming.replay.replay_stateful")
SELF_TIME = {
    "session": "self.session_s",
    "plans": "self.plans_s",
    "sources": "self.sources_s",
    "streaming.pipelines": "self.streaming_pipelines_s",
    "streaming.replay": "self.streaming_replay_s",
    "streaming.epoch": "self.streaming_epoch_s",
}


def _per_layer(ctx: Ctx, setup_parts: dict, layers: dict, names: dict) -> dict:
    import probe

    out = {name: 0.0 for name in names}
    out.update({k: v for k, v in setup_parts.items() if k in out})
    for layer, t in probe.layer_self_times(ctx.tracer.spans).items():
        if layer in SELF_TIME:
            out[SELF_TIME[layer]] = t
    for name in CALL_SPANS:
        spans = [s for s in ctx.tracer.spans if s.name == name]
        out[f"{name}_s"] = sum(s.end - s.start for s in spans)
        out[f"{name}_calls"] = float(len(spans))
    out["trace.spans"] = float(len(ctx.tracer.spans))
    out["mem.peak_rss_mb"] = ctx.rss.peak_mb
    out.update({k: v for k, v in layers.items() if k in out})
    return out


def _print_table(rows: list[dict]) -> None:
    log("| query | wall | addBatch | planning | WAL+commit | outside | epochs | jobs | stages |")
    log("|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        log(
            f"| {r['query']} | {r['wall_s']:.2f} | {r['addBatch_s']:.2f} | {r['planning_s']:.2f} | "
            f"{r['walcommit_s']:.2f} | {r['outside_s']:.2f} | {r['epochs']:.0f} | {r['jobs']:.0f} | {r['stages']:.0f} |"
        )


if __name__ == "__main__":
    sys.exit(main())
