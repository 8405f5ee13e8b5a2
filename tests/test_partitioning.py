"""Partitioning helpers: salted skew join equivalence, spread guard,
and streaming checkpoint recovery (X4)."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from gmall_flink_0526_spark.operators import cache
from gmall_flink_0526_spark.operators.partitioning import (
    bounded_broadcast,
    global_row_number,
    salted_join,
    spread,
)
from gmall_flink_0526_spark.session import load_tables
from gmall_flink_0526_spark.sources.registry import ChannelRegistry, write_replay
from gmall_flink_0526_spark.streaming import stateful

from .conftest import SF_SMOKE


def test_salted_join_matches_plain_join(spark):
    t = load_tables(spark, SF_SMOKE, "lineitem", "part")
    # skew it: map most lineitems onto one hot part key
    big = t["lineitem"].select(
        F.when(F.col("l_linenumber") > 1, F.lit(1)).otherwise(F.col("l_partkey")).alias("p_key"),
        "l_extendedprice",
    )
    small = t["part"].select(F.col("p_partkey").alias("p_key"), "p_brand")
    plain = (
        big.join(small, "p_key")
        .groupBy("p_brand")
        .agg(F.count("*").alias("ct"))
        .collect()
    )
    salted = (
        salted_join(big, small, ["p_key"], buckets=8)
        .groupBy("p_brand")
        .agg(F.count("*").alias("ct"))
        .collect()
    )
    assert {tuple(r) for r in salted} == {tuple(r) for r in plain}
    assert len(plain) > 0


def _plan_text(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bounded_broadcast_sane_path_broadcasts(spark):
    """Under the row limit the guard returns the hinted frame: the join
    plans a BroadcastHashJoin even with auto-broadcast disabled (the
    hint, not the size estimate, drives the strategy) — so every
    existing plan assertion on guarded sites holds."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(2000).withColumn("k", F.pmod("id", F.lit(50)))
        side = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = big.join(bounded_broadcast(side, what="test side"), "k")
        assert "BroadcastHashJoin" in _plan_text(j)
        assert j.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        cache.release_scoped()


def test_bounded_broadcast_fallback_drops_hint_same_rows(spark, caplog):
    """Past the limit the hint is DROPPED (warned): with auto-broadcast
    disabled the join shuffles — no BroadcastHashJoin anywhere in the
    plan — and produces exactly the rows the hinted path produces. This
    is the guard's whole contract: a pathological side degrades to a
    shuffle instead of failing the job at the broadcast hard cap."""
    import logging

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(2000).withColumn("k", F.pmod("id", F.lit(50)))
        side = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        with caplog.at_level(logging.WARNING, "gmall_flink_0526_spark.operators.partitioning"):
            guarded = bounded_broadcast(side, limit=10, what="test side")
        assert any("dropping the broadcast" in r.message for r in caplog.records)
        j = big.join(guarded, "k")
        plan = _plan_text(j)
        assert "BroadcastHashJoin" not in plan  # hint gone => shuffled join
        hinted = sorted(map(tuple, big.join(F.broadcast(side), "k").collect()))
        assert sorted(map(tuple, j.collect())) == hinted and len(hinted) == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        cache.release_scoped()


def test_bounded_broadcast_registers_in_scoped_cache(spark):
    """The guard's persist lands in the scoped-cache scope and
    release_scoped() drains it — the lifecycle the incremental
    streaming apps' per-epoch finally relies on (the r8 leak class)."""
    cache.release_scoped()
    before = len(cache._SCOPES.get("default", []))
    side = spark.range(10).select(F.col("id").alias("k"))
    bounded_broadcast(side, what="test side")
    assert len(cache._SCOPES.get("default", [])) == before + 1
    cache.release_scoped()
    assert len(cache._SCOPES.get("default", [])) == 0


def test_spread_is_noop_when_well_partitioned(spark):
    df = spark.range(1000).repartition(64, "id")
    assert spread(df, "id").rdd.getNumPartitions() == 64  # untouched
    one = spark.range(1000).coalesce(1)
    assert spread(one, "id").rdd.getNumPartitions() > 1


def test_checkpoint_recovery_no_dup_no_loss(spark, tmp_path):
    """X4 — stop a stateful streaming query mid-replay, restart from the
    same checkpoint: the parquet sink must hold exactly the batch-twin
    answer (sink commit log + state checkpoint => no dups, no loss).
    The restart runs under different shuffle partitions (4 -> 8): the
    answer stays exact only if nothing in the keyed-state layout
    follows the session."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        reg = ChannelRegistry(str(tmp_path))
        reg.register(
            "ods_events",
            schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        events = load_tables(spark, SF_SMOKE, "events")["events"]
        write_replay(events, reg.channels["ods_events"].path, n_files=6, order_by=["ts", "event_id"])

        def start():
            src = reg.read_stream(spark, "ods_events", max_files_per_trigger=1)
            out = stateful.fix_is_new(src)  # NoTimeout => drains cleanly
            return reg.write_stream(out, "dwd_is_new_ckpt", str(tmp_path / "ckpt"))

        q = start()
        # let a couple of micro-batches commit, then kill mid-stream
        deadline = time.time() + 60
        while time.time() < deadline:
            lp = q.lastProgress
            if lp and lp["batchId"] >= 2:
                break
            time.sleep(0.3)
        q.stop()

        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q2 = start()
        q2.processAllAvailable()
        q2.stop()

        got = reg.read_batch(spark, "dwd_is_new_ckpt")
        from gmall_flink_0526_spark import plans

        expected = plans.queries()["is_new_fix"](spark, SF_SMOKE)
        assert got.count() == events.count()  # no loss, no dups
        mism = (
            got.join(expected.withColumnRenamed("is_new", "exp"), ["event_id", "user_id"])
            .filter(F.col("is_new") != F.col("exp"))
            .count()
        )
        assert mism == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed join: both sides bucketed by the key =>
    SortMergeJoin whose inputs are NOT exchanged — the only Exchange in
    the plan is the downstream groupBy's. This is the at-rest
    co-partitioning the engine's scale story leans on; losing it
    silently re-adds two full shuffles at 100 TB."""
    import contextlib
    import io

    from gmall_flink_0526_spark.operators.partitioning import write_bucketed

    t = load_tables(spark, SF_SMOKE, "orders", "lineitem")
    write_bucketed(t["orders"], "b_orders", "o_orderkey", 8)
    write_bucketed(
        t["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", 8
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        j = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), "o_orderkey")
            .groupBy("o_orderstatus")
            .count()
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        # neither join side shuffles on the join key; the only Exchange
        # is the aggregation's, keyed by the group column
        assert "hashpartitioning(o_orderkey" not in plan
        assert plan.count("(o_orderstatus") >= 1
        # result identical to the unbucketed join
        plain = (
            t["orders"]
            .join(t["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
            .groupBy("o_orderstatus")
            .count()
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_global_row_number_matches_global_window(spark):
    """global_row_number must equal the single-partition global window
    rank EXACTLY (unique tie-broken key => ranks are a pure function of
    the data, whatever the range boundaries did), while planning a
    range exchange + a PARTITIONED window instead of the corpus-on-one-
    task shape. Skew included: a constant-heavy column exercises ties
    across partition boundaries (broken by id)."""
    import contextlib
    import io

    from pyspark.sql.window import Window as W

    df = spark.range(500).withColumn(
        "s", F.when(F.col("id") % 5 == 0, 1.0).otherwise((F.col("id") % 13).cast("double"))
    )
    got = global_row_number(df, ["s", "id"], "r", npart=7)
    exp = df.withColumn("r", F.row_number().over(W.orderBy("s", "id")).cast("long"))
    assert sorted(map(tuple, got.select("id", "r").collect())) == sorted(
        map(tuple, exp.select("id", "r").collect())
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    p = buf.getvalue()
    assert "rangepartitioning(s" in p and "REPARTITION_BY_NUM" in p
    assert "hashpartitioning(__pid" in p  # the rank window IS partitioned
    # empty input: no offsets to map, still well-typed
    assert global_row_number(df.filter("id < 0"), ["s", "id"], "r").count() == 0
