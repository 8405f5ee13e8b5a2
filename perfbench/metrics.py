"""Per-layer metric names and units.

``PER_LAYER`` is the list in ``BENCHMARK.json``: every traced run of a
benchmark workload reports every name, and a layer the workload does
not exercise reports 0 (``warehouse_batch`` starts no streaming query,
so its streaming figures are 0 by construction, and each workload's
``plans.query.<name>_s`` is 0 for the other workload's queries).
"""

from __future__ import annotations

from workloads import WORKLOADS

STREAM_QUERIES = WORKLOADS["stream_replay"].queries
STREAM_FIELDS = {
    "wall_s": "s",
    "addBatch_s": "s",
    "planning_s": "s",
    "walcommit_s": "s",
    "outside_s": "s",
    "epochs": "count",
    "jobs": "count",
    "stages": "count",
    "state_rows": "count",
}

PER_LAYER: dict[str, str] = {
    "session.jvm_start_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "plans.pass_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.tasks_failed": "count",
    **{f"plans.query.{q}_s": "s" for w in WORKLOADS.values() for q in w.queries},
    "sources.write_replay_s": "s",
    "sources.write_replay_calls": "count",
    "sources.dimstore_merge_s": "s",
    "sources.dimstore_merge_calls": "count",
    "streaming.replay.replay_stateful_s": "s",
    "streaming.replay.replay_stateful_calls": "count",
    "streaming.replay.drain_s": "s",
    "streaming.replay.drain_calls": "count",
    "streaming.epochs": "count",
    "streaming.addBatch_s": "s",
    "streaming.planning_s": "s",
    "streaming.walcommit_s": "s",
    "streaming.trigger_s": "s",
    "streaming.outside_trigger_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "self.session_s": "s",
    "self.plans_s": "s",
    "self.sources_s": "s",
    "self.streaming_pipelines_s": "s",
    "self.streaming_replay_s": "s",
    "self.streaming_epoch_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "mem.peak_rss_mb": "MB",
    **{f"streaming.{q}.{f}": u for q in STREAM_QUERIES for f, u in STREAM_FIELDS.items()},
}
