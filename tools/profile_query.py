#!/usr/bin/env python
"""Solo per-query profiler for the optimization rounds.

Usage::

    python tools/profile_query.py <query> [query ...] [--sf DIR] [--reps N]
        [--explain-dir DIR] [--no-warm]

Builds the same session as bench.py (local[$SPARK_GRAFT_CPUS]), warms
the JVM/worker pool exactly like bench.py does, runs each named query
``--reps`` times through the noop sink (guide §1.4) and prints per-rep
wall seconds plus the median, then each rep's Spark job count. With
``--explain-dir`` the ``explain("formatted")`` output of each query's
returned DataFrame is written to ``<dir>/<query>.txt`` (captured from
the FIRST rep, before its noop write). Jobs are labelled (guide §1.5).

A rep's job count is the DAG scheduler's job total after the rep minus
the total before it. That counts every job the rep started on any
thread: the query's own, its streaming micro-batches' and foreachBatch
bodies' (run on each stream's own thread) and its writer-pool
threads'. Nothing else runs jobs in the profiler's session meanwhile,
since it runs its queries one at a time.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _JobCounter:
    """Counts the Spark jobs of one rep from the DAG scheduler's job
    total (``DAGScheduler.numTotalJobs``, the next job id)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.dag = self.sc._jsc.sc().dagScheduler()

    def start(self, label: str) -> None:
        self.before = self.dag.numTotalJobs()
        self.sc.setJobDescription(label)

    def stop(self) -> int:
        self.sc.setJobDescription(None)
        return self.dag.numTotalJobs() - self.before


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--no-warm", action="store_true")
    ap.add_argument("--setups", action="store_true", help="run+time named setups first")
    args = ap.parse_args()

    from gmall_flink_0526_spark import plans
    from gmall_flink_0526_spark.session import get_spark, load_tables

    spark = get_spark("profile-query")
    qs = plans.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if not args.no_warm:
        from pyspark.sql import functions as F

        from gmall_flink_0526_spark.operators import textops

        load_tables(spark, args.sf, "lineitem")["lineitem"].write.format("noop").mode(
            "overwrite"
        ).save()
        for _name, df in load_tables(spark, args.sf).items():
            df.limit(1).write.format("noop").mode("overwrite").save()
        n = spark.sparkContext.defaultParallelism
        spark.range(n * 4).repartition(n).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
        textops.with_tokens(
            load_tables(spark, args.sf, "documents")["documents"].limit(64)
        ).select(F.explode("toks").alias("t")).write.format("noop").mode(
            "overwrite"
        ).save()

    if args.setups:
        for name, fn in plans.setups().items():
            t0 = time.perf_counter()
            fn(spark, args.sf)
            print(f"setup {name:28s} {time.perf_counter() - t0:7.3f}s", flush=True)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)

    counter = _JobCounter(spark)
    for name in args.queries:
        reps, jobs = [], []
        for i in range(args.reps):
            counter.start(f"profile:{name}#{i}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            if i == 0 and args.explain_dir:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                    fh.write(plan)
            df.write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
            jobs.append(counter.stop())
        med = sorted(reps)[len(reps) // 2]
        print(
            f"{name:36s} median {med:7.3f}s  reps "
            + " ".join(f"{r:.3f}" for r in reps)
            + "  jobs "
            + " ".join(str(j) for j in jobs),
            flush=True,
        )


if __name__ == "__main__":
    main()
