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

A rep's job count is every job of its job group, every job of the
streaming runs started during the rep (a micro-batch's jobs carry its
query's run id as group), and every new ungrouped job (writer-pool
threads carry no group).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _JobCounter:
    """Counts the Spark jobs of one rep from ``statusTracker`` job groups."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.run_ids: list[str] = []
        runs = self.run_ids

        class _Started(StreamingQueryListener):
            # query-started events reach listeners before start() returns
            def onQueryStarted(self, event):
                runs.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Started())

    def start(self, group: str, label: str) -> None:
        self.group = group
        self.ungrouped = set(self.tracker.getJobIdsForGroup(None))
        self.first_run = len(self.run_ids)
        self.sc.setJobGroup(group, label)

    def stop(self) -> int:
        self.sc.setJobGroup(None, None)
        ids = set(self.tracker.getJobIdsForGroup(self.group))
        ids |= set(self.tracker.getJobIdsForGroup(None)) - self.ungrouped
        for run in self.run_ids[self.first_run :]:
            ids |= set(self.tracker.getJobIdsForGroup(run))
        return len(ids)


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
            counter.start(f"profile-{name}-{i}", f"profile:{name}#{i}")
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
