"""Replay tests: the exact keyed-state streaming operators, driven by a
time-ordered file replay (micro-batch per file), must converge to their
batch twins — SURVEY §5's test contract for stateful operators."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from pyspark.sql import functions as F

from gmall_flink_0526_spark.session import load_tables
from gmall_flink_0526_spark.sources.registry import ChannelRegistry, write_replay
from gmall_flink_0526_spark.streaming import stateful
from gmall_flink_0526_spark.streaming.replay import drain

from .conftest import SF_SMOKE

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)
REPLAY_FILES = 6  # micro-batches of the module's events replay


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    # fewer state-store partitions = much faster micro-batches here;
    # restored after the module so batch tests keep the scale default
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    root = str(tmp_path_factory.mktemp("channels"))
    reg = ChannelRegistry(root)
    reg.register("ods_events", schema=EVENTS_SCHEMA)
    events = load_tables(spark, SF_SMOKE, "events")["events"]
    write_replay(
        events, reg.channels["ods_events"].path, n_files=REPLAY_FILES, order_by=["ts", "event_id"]
    )
    yield reg, root
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(spark, df, reg, name, checkpoint_root):
    # the keyed-state operators use ProcessingTimeTimeout, so
    # processAllAvailable would never return: wait for the last of the
    # fixture's REPLAY_FILES offsets instead
    reg.register(name, kind="memory")
    q = reg.write_stream(df, name, checkpoint_root)
    try:
        drain(q, n_files=REPLAY_FILES)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}_mem")


def events_pdf(spark):
    df = load_tables(spark, SF_SMOKE, "events")["events"]
    return df.select("event_id", "ts", "user_id").orderBy("ts", "event_id").toPandas()


def test_daily_dedup_converges_to_batch(spark, replay):
    reg, root = replay
    src = reg.read_stream(spark, "ods_events", max_files_per_trigger=1)
    out = run_to_memory(
        spark, stateful.daily_dedup(src), reg, "dwm_unique_visit", os.path.join(root, "ckpt1")
    )
    got = out.toPandas().sort_values(["user_id", "dt"]).reset_index(drop=True)

    from gmall_flink_0526_spark import plans

    expected = (
        plans.queries()["uv_first_visit"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["user_id", "dt"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["user_id", "dt", "first_event_id"]], expected[["user_id", "dt", "first_event_id"]]
    )


def test_fix_is_new_converges_to_batch(spark, replay):
    reg, root = replay
    src = reg.read_stream(spark, "ods_events", max_files_per_trigger=1)
    out = run_to_memory(
        spark, stateful.fix_is_new(src), reg, "dwd_is_new", os.path.join(root, "ckpt2")
    )
    got = out.toPandas().sort_values("event_id").reset_index(drop=True)

    from gmall_flink_0526_spark import plans

    expected = (
        plans.queries()["is_new_fix"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["event_id", "user_id", "is_new"]], expected[["event_id", "user_id", "is_new"]]
    )


def test_sessionize_bounce_closed_sessions(spark, replay):
    """Streaming emits every session *closed by a successor event*; the
    per-user open tail session stays in state (its timeout can't fire
    under processAllAvailable). Expected = batch sessionization minus
    each user's last session."""
    reg, root = replay
    src = reg.read_stream(spark, "ods_events", max_files_per_trigger=1)
    out = run_to_memory(
        spark,
        stateful.sessionize_bounce(src, gap_minutes=10),
        reg,
        "dwm_user_jump",
        os.path.join(root, "ckpt3"),
    )
    got = (
        out.toPandas()
        .groupby("user_id")
        .agg(closed_ct=("n_events", "size"), bounce_ct=("is_bounce", "sum"))
        .reset_index()
    )

    ev = events_pdf(spark)
    gap = pd.Timedelta(minutes=10)
    expected_rows = []
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        sizes, n = [], 0
        last = None
        for t in g["ts"]:
            if last is not None and (t - last) > gap:
                sizes.append(n)
                n = 0
            n += 1
            last = t
        # open tail session not emitted
        if sizes:
            expected_rows.append(
                (uid, len(sizes), sum(1 for s in sizes if s == 1))
            )
    expected = pd.DataFrame(expected_rows, columns=["user_id", "closed_ct", "bounce_ct"])
    got = got.sort_values("user_id").reset_index(drop=True)
    expected = expected.sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"bounce_ct": "int64"}), expected.astype({"bounce_ct": "int64"})
    )


def test_unique_visit_and_user_jump_apps(spark, replay, tmp_path_factory):
    """App-level wrappers (UniqueVisitApp / UserJumpDetailApp parity):
    same operators as above, but run as named-channel jobs writing file
    channels instead of memory sinks."""
    from gmall_flink_0526_spark.streaming import pipelines

    reg, root = replay
    ckpt = str(tmp_path_factory.mktemp("app_ckpt"))
    q1 = pipelines.unique_visit_app(spark, reg, ckpt, source="ods_events")
    try:
        drain(q1, n_files=REPLAY_FILES)
    finally:
        q1.stop()
    uv = reg.read_batch(spark, "dwm_unique_visit")
    from gmall_flink_0526_spark import plans

    expected = plans.queries()["uv_first_visit"](spark, SF_SMOKE)
    assert uv.count() == expected.count()

    q2 = pipelines.user_jump_detail_app(spark, reg, ckpt, source="ods_events")
    try:
        drain(q2, n_files=REPLAY_FILES)
    finally:
        q2.stop()
    jumps = reg.read_batch(spark, "dwm_user_jump_detail")
    assert jumps.columns == ["user_id", "n_events", "is_bounce", "end_ts"]
    assert jumps.count() > 0


def test_jsonl_channel_round_trip(spark, tmp_path):
    """S1/P1's at-rest form: a jsonl channel replays newline-delimited
    JSON through a streaming read and lands in a jsonl sink; the
    round-trip preserves values under the declared schema (the
    schema-on-read contract of the reference's JSON.parseObject path)."""
    import os

    from gmall_flink_0526_spark.sources.registry import ChannelRegistry

    reg = ChannelRegistry(str(tmp_path))
    src_ch = reg.register(
        "ods_jsonl", kind="jsonl", schema="event_id long, event_type string, value double"
    )
    df = spark.range(50).selectExpr(
        "id AS event_id",
        "CASE WHEN id % 2 = 0 THEN 'view' ELSE 'click' END AS event_type",
        "CAST(id AS DOUBLE) / 4 AS value",
    )
    reg.write_batch(df, "ods_jsonl")
    reg.register("dwd_jsonl", kind="jsonl", schema="event_id long, event_type string, value double")
    src = reg.read_stream(spark, "ods_jsonl", max_files_per_trigger=1)
    q = reg.write_stream(src, "dwd_jsonl", str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)
    got = reg.read_batch(spark, "dwd_jsonl")
    assert got.count() == 50
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in df.collect()}
    # at-rest form really is newline-delimited JSON text
    part = [
        f for f in os.listdir(src_ch.path) if f.startswith("part-") and not f.endswith(".crc")
    ][0]
    first = open(os.path.join(src_ch.path, part)).readline()
    assert first.startswith("{") and "event_id" in first


def test_funnel_chain_n_rejects_bad_stage_lists(spark):
    import pytest

    from gmall_flink_0526_spark.streaming.stateful import funnel_chain_n

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    with pytest.raises(ValueError, match="distinct"):
        funnel_chain_n(ev, stages=("view", "view"))
    with pytest.raises(ValueError, match="probe_type"):
        funnel_chain_n(ev, stages=("view", "click"), probe_type="click")


def test_watermark_late_drop_boundary_semantics(spark, tmp_path):
    """Pin the engine's late-data drop rule the late-drop oracle
    states (probed on this Spark version, would catch an upgrade
    changing it): the late-row filter uses a ONE-BATCH-LAGGED
    watermark (batch N drops against the watermark computed after
    batch N-2), the predicate is window_end <= watermark (boundary
    equality DROPS), and a raw ts exactly at the watermark survives
    (its window end is an hour past it)."""
    from gmall_flink_0526_spark.streaming.replay import replay_stateful

    rows = [
        (0, "2024-01-01 03:00:00", "on", 0),       # sets wm0 = 02:00
        (1, "2024-01-01 03:00:00", "spacer", 1),   # lag batch, wm unchanged
        (2, "2024-01-01 01:30:00", "edge", 2),     # window end == wm0 -> drop
        (3, "2024-01-01 00:30:00", "late", 2),     # window end <  wm0 -> drop
        (4, "2024-01-01 02:00:00", "at_wm", 2),    # ts == wm0, end > wm0 -> keep
        (5, "2024-01-01 02:30:00", "ok", 2),       # window end >  wm0 -> keep
        (6, "2024-01-01 06:00:00", "_sentinel", 3),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts string, tag string, bat int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    def op(s):
        return (
            s.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "tag")
            .agg(F.count("*").alias("ct"))
            .select(F.col("w.start").cast("string").alias("stt"), "tag", "ct")
        )

    out = replay_stateful(
        spark, df, op, order_by=["bat", "ts"], n_files=4, file_of=F.col("bat"),
        drain_mode="all_available",
    )
    got = {r["tag"] for r in out.filter(F.col("tag") != "_sentinel").collect()}
    assert got == {"on", "spacer", "at_wm", "ok"}, got


class _ManualClockState:
    """GroupState stand-in for one bucket, with a manual processing-time
    clock: ``now`` is what ``getCurrentProcessingTimeMs`` returns and
    ``timeout_at`` the absolute time the last ``setTimeoutDuration``
    armed."""

    def __init__(self):
        self.value, self.now, self.hasTimedOut, self.timeout_at = None, 0, False, None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None

    def getCurrentProcessingTimeMs(self):
        return self.now

    def setTimeoutDuration(self, ms):
        self.timeout_at = self.now + ms


def test_bucket_ttl_evicts_cold_key_inside_hot_bucket(spark, monkeypatch):
    """Per-KEY TTL inside one state bucket: a cold key sharing the
    bucket with a hot key must leave once idle for the TTL, even though
    the hot key's data keeps calling the bucket and its timeout never
    fires — and sessionize_bounce must emit the cold key's open session
    as it leaves. The bucket re-arms at its earliest remaining expiry."""
    captured = {}
    monkeypatch.setattr(
        stateful, "_keyed_state", lambda events, out_t, *a, **kw: captured.update(a=a, kw=kw)
    )
    events = spark.createDataFrame([], EVENTS_SCHEMA)
    stateful.sessionize_bounce(events, gap_minutes=10)
    fn = stateful._bucket_fn(*captured["a"], **captured["kw"])
    gap_ms = 10 * 60 * 1000
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    state = _ManualClockState()

    def call(now, rows):
        state.now = now
        pdfs = [
            pd.DataFrame(
                [(i, t0 + pd.Timedelta(minutes=m), u) for i, m, u in rows],
                columns=["event_id", "ts", "user_id"],
            )
        ] if rows else []
        got = list(fn((0,), iter(pdfs), state))
        return pd.concat(got).to_dict("records") if got else []

    # cold user 1 and hot user 2 open sessions in the same bucket
    assert call(0, [(1, 0, 1), (2, 0, 2)]) == []
    assert state.timeout_at == gap_ms
    # half a gap later only the hot user has data: nothing expires
    assert call(gap_ms // 2, [(3, 5, 2)]) == []
    # a full gap after its last update the cold user is evicted while
    # the hot user's data arrives; its one-event session is a bounce
    assert call(gap_ms, [(4, 9, 2)]) == [
        {"user_id": 1, "n_events": 1, "is_bounce": True, "end_ts": t0}
    ]
    assert list(state.value[0]) == [2]
    assert state.timeout_at == 2 * gap_ms
    # the hot user's own timeout closes its three-event session
    state.hasTimedOut = True
    assert call(2 * gap_ms, []) == [
        {"user_id": 2, "n_events": 3, "is_bounce": False, "end_ts": t0 + pd.Timedelta(minutes=9)}
    ]
    assert not state.exists


class _StatePartitions:
    """``StreamingQueryListener`` probe: the ``numShufflePartitions`` of
    every state operator in every progress event, by query id."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.by_query: dict[str, set[int]] = {}
        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                parts = {s.numShufflePartitions for s in p.stateOperators}
                if parts:
                    outer.by_query.setdefault(str(p.id), set()).update(parts)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def wait_for(self, n_queries: int, timeout: float = 60) -> dict[str, set[int]]:
        """Progress events reach the listener asynchronously."""
        deadline = time.time() + timeout
        while len(self.by_query) < n_queries and time.time() < deadline:
            time.sleep(0.2)
        return self.by_query


def test_state_fanout_is_one_wave_and_restores_the_session(spark, replay, tmp_path):
    """A keyed-state query starts with one wave of state tasks,
    min(STATE_BUCKETS, defaultParallelism) shuffle partitions — both a
    replay_stateful run and a durable app epoch — and the caller's
    spark.sql.shuffle.partitions is back afterwards, also when the op
    raises."""
    from gmall_flink_0526_spark.streaming import pipelines
    from gmall_flink_0526_spark.streaming.replay import replay_stateful

    reg, _ = replay
    want = min(stateful.STATE_BUCKETS, spark.sparkContext.defaultParallelism)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    caller = str(want + 3)  # anything but the rule's count
    spark.conf.set("spark.sql.shuffle.partitions", caller)
    probe = _StatePartitions()
    spark.streams.addListener(probe.listener)
    try:
        events = load_tables(spark, SF_SMOKE, "events")["events"]
        out = replay_stateful(
            spark, events, stateful.fix_is_new, order_by=["ts", "event_id"], n_files=2
        )
        assert out.count() == events.count()
        assert spark.conf.get("spark.sql.shuffle.partitions") == caller

        q = pipelines.unique_visit_app(spark, reg, str(tmp_path / "uv"), source="ods_events")
        try:
            # the conf is restored while the query runs
            assert spark.conf.get("spark.sql.shuffle.partitions") == caller
            deadline = time.time() + 120
            while not (q.lastProgress and q.lastProgress["stateOperators"]):
                assert time.time() < deadline, "no unique_visit_app epoch"
                time.sleep(0.2)
        finally:
            q.stop()
        seen = probe.wait_for(2)
        assert len(seen) == 2 and str(q.id) in seen, seen
        assert all(parts == {want} for parts in seen.values()), seen

        def boom(_):
            raise RuntimeError("op failed")

        with pytest.raises(RuntimeError, match="op failed"):
            replay_stateful(spark, events, boom, order_by=["ts", "event_id"], n_files=2)
        assert spark.conf.get("spark.sql.shuffle.partitions") == caller
    finally:
        spark.streams.removeListener(probe.listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_replay_write_failure_leaves_no_temp_dir(spark, tmp_path, monkeypatch):
    """A channel write that raises (here an out-of-range ``file_of``)
    must not leak its source dir: the replay is neither cached nor
    left behind."""
    import tempfile

    from gmall_flink_0526_spark.streaming.replay import replay_stateful

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", None)
    df = spark.range(10).select("id", F.col("id").alias("ts"))
    with pytest.raises(ValueError, match="outside"):
        replay_stateful(
            spark, df, lambda s: s, order_by=["ts"], n_files=2, file_of=F.lit(5),
            cache_key="leak-probe",
        )
    assert not list(tmp_path.glob("gmall_replay_src_*"))


def test_replay_runner_failed_epoch_leaves_no_query_conf_or_root(spark, monkeypatch):
    """An epoch that raises inside a foreachBatch app (the dim MERGE of
    base_db_stream) propagates its error, leaves no active query,
    restores the caller's shuffle partitions and removes the replay's
    temp root instead of keeping it until the process exits."""
    import glob
    import tempfile

    from gmall_flink_0526_spark import plans
    from gmall_flink_0526_spark.sources.dimstore import DimStore

    calls = []

    def merge_fails_first(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("dim merge failed")

    monkeypatch.setattr(DimStore, "merge", merge_fails_first)
    roots = os.path.join(tempfile.gettempdir(), "gmall_basedb_*")
    before = set(glob.glob(roots))
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(Exception, match="dim merge failed"):
        plans.queries()["base_db_stream"](spark, SF_SMOKE).collect()
    assert calls == [1]
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert set(glob.glob(roots)) - before == set()


def test_replay_lifecycle_only_in_the_runner():
    """Catalog plans and tools start, drain and stop their stream
    replays only through streaming.replay.run_to_end, which owns the
    fan-out, the drain, the stop and the cleanup on error."""
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    files = sorted((repo / "gmall_flink_0526_spark" / "plans").glob("*.py"))
    files += sorted((repo / "tools").glob("*.py"))
    offending = [
        f"{f.relative_to(repo)}:{i}"
        for f in files
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if ".processAllAvailable(" in line or "shuffle_partitions(spark, 8)" in line
    ]
    assert not offending, "hand-rolled replay lifecycle, use run_to_end: " + ", ".join(offending)


def test_epoch_store_contract_only_in_the_family_helpers():
    """The epoch-addressed store apps in streaming/pipelines.py write
    their ``epoch=<id>`` directories, cut lineage and open their
    stream-owned cache scopes only through the family helpers
    (EpochScope, _epoch_query, _bootstrap_fit), which own the
    overwrite, the release on exit and the per-instance scope."""
    import ast
    import re
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "gmall_flink_0526_spark" / "streaming" / "pipelines.py"
    src = path.read_text()
    owner = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            owner.update(dict.fromkeys(range(node.lineno, node.end_lineno + 1), node.name))
    contract = re.compile(r"epoch=\{[^}]*epoch_id\}|\.localCheckpoint\(|cache_scope\(")
    offending = [
        f"pipelines.py:{i} ({owner.get(i, '<module>')}): {line.strip()}"
        for i, line in enumerate(src.splitlines(), 1)
        if contract.search(line)
        and owner.get(i) not in {"EpochScope", "_epoch_query", "_bootstrap_fit"}
    ]
    assert not offending, "hand-rolled epoch-store contract, use EpochScope:\n" + "\n".join(offending)


def test_write_replay_publishes_every_chunk_in_order(spark, tmp_path):
    """One file per chunk index, empty chunks included, mtime order =
    chunk order = sort order: with fewer distinct order keys than
    files a range split leaves chunks empty, and a replay drained by
    ``n_files`` would wait forever for a file that was never written."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "chan")
    df = spark.range(100).select((F.col("id") % 2).alias("k"), "id")
    write_replay(df, path, n_files=4, order_by=["k"])
    files = sorted(
        (f for f in os.listdir(path) if f.endswith(".parquet")),
        key=lambda f: os.path.getmtime(os.path.join(path, f)),
    )
    assert [f.split("_")[0] for f in files] == ["chunk0", "chunk1", "chunk2", "chunk3"]
    mtimes = [os.path.getmtime(os.path.join(path, f)) for f in files]
    assert mtimes == sorted(set(mtimes))
    tables = [pq.read_table(os.path.join(path, f)) for f in files]
    assert all(t.column_names == ["k", "id"] for t in tables)
    keys = [k for t in tables for k in t.column("k").to_pylist()]
    assert len(keys) == 100 and keys == sorted(keys)
    assert sum(t.num_rows == 0 for t in tables) == 2
