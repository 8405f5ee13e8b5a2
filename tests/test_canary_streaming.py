"""Engine-upgrade canaries for the STREAMING semantics the replay
oracles depend on, mirroring test_canary.py's approach for batch
expressions. Two contracts are pinned:

1. ``session_window`` bounds/merge: window = [first_ts, last_ts + gap),
   events within ``gap`` of each other merge. session_stats_stream's
   oracle re-derives sessions with gaps-and-islands SQL from exactly
   this rule.
2. ``applyInPandasWithState`` under ``ProcessingTimeTimeout``: keyed
   state persists across micro-batches, and a processing-time timeout
   does NOT fire during a bounded drain — the assumption behind every
   stateful replay oracle ("the open tail session stays in state", see
   plans/replay.bounce_stats_stream). If a Spark upgrade starts firing
   timeouts inside a drain, this fails loudly instead of the oracles
   silently diverging.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gmall_flink_0526_spark.sources.registry import ChannelRegistry, write_replay
from gmall_flink_0526_spark.streaming.replay import run_to_end


def test_session_window_bounds_and_merge_pinned(spark):
    # gap=10min: ts 0/5/12min chain (5->12 gap is 7 < 10) into ONE
    # session ending at last+gap; ts 40min opens a second session
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:05:00"),
         (1, "2024-01-01 00:12:00"), (1, "2024-01-01 00:40:00")],
        "uid long, ts_s string",
    ).select("uid", F.col("ts_s").cast("timestamp").alias("ts"))
    rows = (
        df.groupBy("uid", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("string"), F.col("w.end").cast("string"), "n")
        .orderBy("w.start")
        .collect()
    )
    assert [tuple(r) for r in rows] == [
        ("2024-01-01 00:00:00", "2024-01-01 00:22:00", 3),
        ("2024-01-01 00:40:00", "2024-01-01 00:50:00", 1),
    ]


def _counting_fn(key, pdf_iter, state: GroupState):
    # canary contract: state round-trips across micro-batches; a
    # processing-time timeout is registered but must not fire during a
    # bounded drain (rows from the timeout branch would betray it)
    if state.hasTimedOut:
        (prev,) = state.get
        yield pd.DataFrame({"uid": [key[0]], "n": [prev], "src": ["timeout"]})
        state.remove()
        return
    n = sum(len(pdf) for pdf in pdf_iter)
    prev = state.get[0] if state.exists else 0
    state.update((prev + n,))
    state.setTimeoutDuration(60_000)
    yield pd.DataFrame({"uid": [key[0]], "n": [prev + n], "src": ["data"]})


def test_apply_in_pandas_with_state_persists_and_timeout_quiet_in_drain(
    spark, tmp_path
):
    reg = ChannelRegistry(str(tmp_path))
    rows = spark.createDataFrame(
        [(u, b) for b in range(3) for u in (1, 2)], "uid long, v long"
    )
    reg.register("ods_canary", schema="uid long, v long")
    # 3 micro-batch files, each carrying one row per uid
    write_replay(
        rows,
        reg.channels["ods_canary"].path,
        n_files=3,
        order_by=["v", "uid"],
        file_of=F.col("v"),
    )

    def start():
        src = reg.read_stream(spark, "ods_canary", max_files_per_trigger=1)
        out = (
            src.groupBy("uid")
            .applyInPandasWithState(
                _counting_fn,
                "uid long, n long, src string",
                "n long",
                "append",
                GroupStateTimeout.ProcessingTimeTimeout,
            )
        )
        return reg.write_stream(out, "dwd_canary", os.path.join(str(tmp_path), "ckpt"))

    run_to_end(spark, reg, start, partitions=2, n_files=3)
    got = reg.read_batch(spark, "dwd_canary")
    # state accumulated across the three micro-batches...
    per_uid = {
        r["uid"]: r["mx"]
        for r in got.filter(F.col("src") == "data")
        .groupBy("uid")
        .agg(F.max("n").alias("mx"))
        .collect()
    }
    assert per_uid == {1: 3, 2: 3}
    # ...and the processing-time timeout stayed quiet during the drain
    assert got.filter(F.col("src") == "timeout").count() == 0
