"""Streaming pipeline tests: each reference app's Spark twin runs over
a file-channel replay and must converge to the batch answer computed
from the same rows (SURVEY §5's replay contract).

Tail flushing: stream-stream joins and windowed aggs only emit rows
once the watermark passes them, and the watermark only advances with
data — so each replay appends a far-future *sentinel* row (keys that
join/group with nothing real) whose arrival flushes everything real.
"""

from __future__ import annotations

import datetime
import decimal
import os

import pytest

from pyspark.sql import functions as F, types as T

from gmall_flink_0526_spark.operators.joins import interval_join
from gmall_flink_0526_spark.session import load_tables
from gmall_flink_0526_spark.sources.cdc import envelope_from_table
from gmall_flink_0526_spark.sources.dimstore import DimStore
from gmall_flink_0526_spark.sources.registry import ChannelRegistry, write_replay
from gmall_flink_0526_spark.streaming import pipelines
from gmall_flink_0526_spark.streaming.replay import with_sentinel

from .conftest import SF_SMOKE, same_bucket_keys


@pytest.fixture(scope="module", autouse=True)
def few_partitions(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.fixture()
def reg(tmp_path):
    return ChannelRegistry(str(tmp_path))


def events(spark):
    return load_tables(spark, SF_SMOKE, "events")["events"]


def test_base_log_app_nested(spark, reg, tmp_path):
    """The authentic nested path: behavior-log JSON lines split on
    start/page presence, displays[] exploded with the parent stamped
    (BaseLogApp.java:99-151)."""
    from gmall_flink_0526_spark.plans.logs import synth_behavior_log

    ev = events(spark)
    lines = synth_behavior_log(ev, corrupt_mod=50)
    reg.register("ods_base_log", schema="event_id long, ts timestamp, log string")
    write_replay(
        lines, reg.channels["ods_base_log"].path, n_files=3, order_by=["ts", "event_id"]
    )
    q = pipelines.base_log_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    clean = ev.filter(F.col("event_id") % 50 != 0)
    n_start = clean.filter(F.col("event_type") == "signup").count()
    n_page = clean.filter(F.col("event_type") != "signup").count()
    start = reg.read_batch(spark, "dwd_start_log")
    page = reg.read_batch(spark, "dwd_page_log")
    display = reg.read_batch(spark, "dwd_display_log")
    dirty = reg.read_batch(spark, "dirty_log")
    assert start.count() == n_start
    assert page.count() == n_page
    assert dirty.count() == ev.count() - n_start - n_page
    # displays fan out 1..(event_id%4) per page log, parent page_id
    # stamped onto every exploded element
    exp_disp = (
        clean.filter(F.col("event_type") != "signup")
        .select((F.col("event_id") % 4).alias("k"))
        .agg(F.sum("k"))
        .collect()[0][0]
    )
    assert display.count() == exp_disp
    assert display.filter(F.col("page_id").isNull()).count() == 0
    assert (
        display.join(page.select("page_id").distinct(), "page_id", "left_anti").count()
        == 0
    )
    # the start branch carries the parsed start payload, not raw JSON
    assert {"entry", "open_ad_id", "loading_time", "mid", "uid", "ts"} <= set(
        start.columns
    )


def test_base_log_app_fixture_mode(spark, reg, tmp_path):
    # every 50th props payload truncated -> must land in the dead letter
    ev = events(spark).withColumn(
        "props",
        F.when(F.col("event_id") % 50 == 0, F.substring("props", 1, 5)).otherwise(
            F.col("props")
        ),
    )
    reg.register(
        "ods_base_log",
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    write_replay(ev, reg.channels["ods_base_log"].path, n_files=3, order_by=["ts", "event_id"])
    q = pipelines.base_log_app(
        spark, reg, str(tmp_path / "ckpt"), props_schema=T.StructType([T.StructField("k", T.LongType())])
    )
    q.processAllAvailable()
    q.stop()

    clean = ev.filter(F.col("event_id") % 50 != 0)
    start = reg.read_batch(spark, "dwd_start_log")
    page = reg.read_batch(spark, "dwd_page_log")
    display = reg.read_batch(spark, "dwd_display_log")
    assert start.count() == clean.filter(F.col("event_type") == "signup").count()
    assert page.count() == clean.filter(F.col("event_type").isin("view", "click")).count()
    assert display.count() == clean.filter(
        ~F.col("event_type").isin("signup", "view", "click")
    ).count()
    # parsed payload column survived the split
    assert "k" in page.columns and page.filter(F.col("k").isNull()).count() == 0
    # corrupt rows all diverted to the dead letter, none lost
    dirty = reg.read_batch(spark, "dirty_log")
    assert dirty.count() == ev.filter(F.col("event_id") % 50 == 0).count()
    assert start.count() + page.count() + display.count() + dirty.count() == ev.count()


def _order_cdc_replay(spark, reg, orders):
    """The CDC-envelope replay of ``orders`` base_db_app reads, 3 files."""
    env = envelope_from_table(orders, "o_orderkey", "gmall", "order_info").withColumn(
        "k",
        F.coalesce(
            F.element_at("after", "o_orderkey"), F.element_at("before", "o_orderkey")
        ).cast("long"),
    )
    reg.register(
        "ods_base_db",
        schema="database string, tableName string, before map<string,string>, "
        "after map<string,string>, type string, k long",
    )
    write_replay(env, reg.channels["ods_base_db"].path, n_files=3, order_by=["type", "k"])


_ORDER_ROUTES = [
    ("order_info", "insert", "kafka", "dwd_order_info", "o_orderkey,o_totalprice", "o_orderkey", None),
    ("order_info", "update", "hbase", "dim_order_info", "o_orderkey,o_totalprice", "o_orderkey", None),
]
_TABLE_PROCESS = (
    "sourceTable string, operateType string, sinkType string, sinkTable string, "
    "sinkColumns string, sinkPk string, sinkExtend string"
)


def test_base_db_app_routes_facts_and_dims(spark, reg, tmp_path):
    orders = load_tables(spark, SF_SMOKE, "orders")["orders"]
    _order_cdc_replay(spark, reg, orders)
    config = spark.createDataFrame(_ORDER_ROUTES, _TABLE_PROCESS)
    store = DimStore(str(tmp_path / "dims"))
    q = pipelines.base_db_app(spark, reg, store, config, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    n_insert = orders.filter(~(F.col("o_orderkey") % 10).isin(0, 1, 2)).count()
    n_update_keys = orders.filter((F.col("o_orderkey") % 10).isin(1, 2)).count()
    fact = reg.read_batch(spark, "dwd_fact_log")
    assert fact.columns == ["topic", "value"]
    assert fact.count() == n_insert
    assert fact.select("topic").distinct().collect()[0][0] == "dwd_order_info"
    dim = store.read(spark, "dim_order_info")
    assert sorted(dim.columns) == ["o_orderkey", "o_totalprice"]
    assert dim.count() == n_update_keys  # idempotent MERGE by pk


def test_dim_merge_last_writer_wins_under_shuffle(spark, tmp_path):
    # Two same-batch updates per pk, with a seq carrying source order;
    # repartition so physical row order disagrees with seq — the
    # higher-seq value must still win.
    batch = (
        spark.range(20)
        .select(
            (F.col("id") % 10).alias("pk"),
            F.col("id").alias("seq"),
            F.concat(F.lit("v"), F.col("id")).alias("val"),
        )
        .repartition(7, "val")  # scramble order relative to seq
    )
    store = DimStore(str(tmp_path / "dims"))
    store.merge(spark, batch, "t", "pk", seq_col="seq")
    got = {r["pk"]: r["val"] for r in store.read(spark, "t").collect()}
    assert got == {k: f"v{k + 10}" for k in range(10)}
    assert "seq" not in store.read(spark, "t").columns


def test_dim_merge_recovers_swap_cut_by_crash(spark, tmp_path):
    """A crash between the swap's delete and rename leaves only the
    complete ``<table>.tmp``: the next MERGE must publish it first and
    upsert into it, not start a fresh table from its own batch."""
    store = DimStore(str(tmp_path / "dims"))
    a = spark.createDataFrame([(1, "a1"), (2, "a2")], "pk long, val string")
    b = spark.createDataFrame([(2, "b2"), (3, "b3")], "pk long, val string")
    store.merge(spark, a, "t", "pk")
    p = store.path("t")
    os.rename(p, p + ".tmp")  # the delete ran, the rename did not
    store.merge(spark, b, "t", "pk")
    got = {r["pk"]: r["val"] for r in store.read(spark, "t").collect()}
    assert got == {1: "a1", 2: "b2", 3: "b3"}
    assert not os.path.exists(p + ".tmp")


def test_base_db_app_reads_static_config_once(spark, reg, tmp_path):
    """A static config is read when the app starts, not re-scanned by
    every micro-batch: an accumulator bumped per config row scanned
    ends at the row count after a 3-epoch run."""
    orders = load_tables(spark, SF_SMOKE, "orders")["orders"]
    _order_cdc_replay(spark, reg, orders)
    scanned = spark.sparkContext.accumulator(0)

    def bump(row):
        scanned.add(1)
        return row

    config = spark.createDataFrame(
        spark.sparkContext.parallelize(_ORDER_ROUTES, 1).map(bump), _TABLE_PROCESS
    )
    store = DimStore(str(tmp_path / "dims"))
    q = pipelines.base_db_app(spark, reg, store, config, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert len({p.batchId for p in q.recentProgress if p.numInputRows}) == 3
    assert scanned.value == len(_ORDER_ROUTES)
    n_update_keys = orders.filter((F.col("o_orderkey") % 10).isin(1, 2)).count()
    assert store.read(spark, "dim_order_info").count() == n_update_keys


def test_base_db_app_failing_epoch_releases_routed_cache(spark, reg, tmp_path, monkeypatch):
    """An epoch that raises after its routed rows were cached must
    still release them."""
    orders = load_tables(spark, SF_SMOKE, "orders")["orders"]
    _order_cdc_replay(spark, reg, orders)

    def boom(*args, **kwargs):
        raise RuntimeError("merge failed")

    monkeypatch.setattr(DimStore, "merge", boom)
    pinned = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = pinned()
    q = pipelines.base_db_app(
        spark, reg, DimStore(str(tmp_path / "dims")), spark.createDataFrame(_ORDER_ROUTES, _TABLE_PROCESS),
        str(tmp_path / "ckpt"),
    )
    try:
        with pytest.raises(Exception, match="merge failed"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert reg.read_batch(spark, "dwd_fact_log").count() > 0  # routed was filled
    assert pinned() - before == set()


def test_base_db_app_null_sink_columns(spark, reg, tmp_path):
    orders = load_tables(spark, SF_SMOKE, "orders")["orders"].limit(50)
    env = envelope_from_table(orders, "o_orderkey", "gmall", "order_info")
    reg.register(
        "ods_base_db",
        schema="database string, tableName string, before map<string,string>, "
        "after map<string,string>, type string",
    )
    write_replay(env, reg.channels["ods_base_db"].path, n_files=2, order_by=["type"])
    # NULL sinkColumns -> keep every envelope column (fallback path)
    config = spark.createDataFrame(
        [("order_info", "insert", "hbase", "dim_order_full", None, "o_orderkey", None)],
        schema="sourceTable string, operateType string, sinkType string, sinkTable string, "
        "sinkColumns string, sinkPk string, sinkExtend string",
    )
    store = DimStore(str(tmp_path / "dims"))
    q = pipelines.base_db_app(spark, reg, store, config, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    dim = store.read(spark, "dim_order_full")
    assert sorted(dim.columns) == sorted(orders.columns)  # all keys kept
    n_insert = orders.filter(~(F.col("o_orderkey") % 10).isin(0, 1, 2)).count()
    assert dim.count() == n_insert
    assert dim.filter(F.col("o_totalprice").isNull()).count() == 0


def test_order_wide_app_converges_to_batch(spark, reg, tmp_path):
    ev = events(spark).limit(300)
    orders = ev.select(F.col("event_id").alias("order_id"), "ts")
    # even ids: +2s (inside ±5s) -> join; odd ids: +7s -> dropped
    details = ev.select(
        F.col("event_id").alias("detail_order_id"),
        F.when(F.col("event_id") % 2 == 0, F.col("ts") + F.expr("INTERVAL 2 SECONDS"))
        .otherwise(F.col("ts") + F.expr("INTERVAL 7 SECONDS"))
        .alias("ts"),
        "value",
    )
    reg.register("dwd_order_info", schema="order_id long, ts timestamp")
    reg.register("dwd_order_detail", schema="detail_order_id long, ts timestamp, value double")
    write_replay(
        with_sentinel(orders, "1 hour", order_id=-1),
        reg.channels["dwd_order_info"].path, n_files=3, order_by=["ts", "order_id"],
    )
    write_replay(
        with_sentinel(details, "1 hour", detail_order_id=-2, value=0.0),
        reg.channels["dwd_order_detail"].path, n_files=3, order_by=["ts", "detail_order_id"],
    )
    reg.register("dwm_order_wide", kind="memory")
    # J3 in the streaming form: broadcast dim joined onto the wide rows
    # (the reference's TODO 5, RT/app/dwm/OrderWideApp.java:93)
    dim = spark.createDataFrame(
        [(i, f"bucket_{i}") for i in range(10)], "bucket_id long, bucket_name string"
    )
    q = pipelines.order_wide_app(
        spark, reg, str(tmp_path / "ckpt"),
        dims=[(dim, F.col("order_id") % 10 == F.col("bucket_id"), ["bucket_id", "bucket_name"])],
    )
    q.processAllAvailable()
    q.stop()

    wide_mem = spark.sql("SELECT order_id, value, bucket_name FROM dwm_order_wide_mem")
    assert wide_mem.filter(
        F.col("bucket_name") != F.concat(F.lit("bucket_"), (F.col("order_id") % 10))
    ).count() == 0
    got = {(r["order_id"], r["value"]) for r in wide_mem.collect()}
    expected = {
        (r["order_id"], r["value"])
        for r in interval_join(
            orders.withColumnRenamed("ts", "o_ts"),
            details.withColumnRenamed("ts", "d_ts"),
            on=F.col("order_id") == F.col("detail_order_id"),
            left_ts=F.col("o_ts"),
            right_ts=F.col("d_ts"),
            lower="5 SECONDS",
            upper="5 SECONDS",
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_payment_wide_app_converges_to_batch(spark, reg, tmp_path):
    ev = events(spark).limit(300)
    wide = ev.select(F.col("event_id").alias("order_id"), "ts", "value")
    # payment 60s after the order (inside [-15min, +5s]); even ids pay
    # 20min later -> outside the window, dropped
    payment = ev.select(
        F.col("event_id").alias("payment_order_id"),
        F.when(F.col("event_id") % 2 == 0, F.col("ts") + F.expr("INTERVAL 20 MINUTES"))
        .otherwise(F.col("ts") + F.expr("INTERVAL 60 SECONDS"))
        .alias("ts"),
    )
    reg.register("dwd_payment_info", schema="payment_order_id long, ts timestamp")
    reg.register("dwm_order_wide", schema="order_id long, ts timestamp, value double")
    write_replay(
        with_sentinel(payment, "1 hour", payment_order_id=-1),
        reg.channels["dwd_payment_info"].path, n_files=3, order_by=["ts", "payment_order_id"],
    )
    write_replay(
        with_sentinel(wide, "1 hour", order_id=-2, value=0.0),
        reg.channels["dwm_order_wide"].path, n_files=3, order_by=["ts", "order_id"],
    )
    reg.register("dwm_payment_wide", kind="memory")
    q = pipelines.payment_wide_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = {
        (r["payment_order_id"], r["value"])
        for r in spark.sql("SELECT payment_order_id, value FROM dwm_payment_wide_mem").collect()
    }
    expected = {
        (r["payment_order_id"], r["value"])
        for r in interval_join(
            payment.withColumnRenamed("ts", "p_ts"),
            wide.withColumnRenamed("ts", "w_ts"),
            on=F.col("payment_order_id") == F.col("order_id"),
            left_ts=F.col("p_ts"),
            right_ts=F.col("w_ts"),
            lower="15 MINUTES",
            upper="5 SECONDS",
        ).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_order_wide_feeds_payment_wide(spark, reg, tmp_path):
    """The DWM chain on real output: order_wide_app writes the
    dwm_order_wide file channel and payment_wide_app tails it, read
    with the schema the first app actually wrote. The result must
    equal the batch composition of the two interval joins. Every event
    time lies within the 10 s join watermark of every other, so no row
    is late, whatever order the wide channel's files replay in."""
    base = F.lit(datetime.datetime(2024, 1, 1))
    ids = spark.range(120).select(F.col("id").alias("k"))
    at = lambda secs: base + F.make_interval(secs=secs)  # noqa: E731
    o_secs = F.col("k") % 4
    orders = ids.select(F.col("k").alias("order_id"), at(o_secs).alias("ts"))
    # even ids: detail +2s (inside ±5s); odd ids: +7s, no wide row
    details = ids.select(
        F.col("k").alias("detail_order_id"),
        at(o_secs + F.when(F.col("k") % 2 == 0, 2).otherwise(7)).alias("ts"),
        (F.col("k") * 1.5).alias("value"),
    )
    # k % 3 == 0: paid 3s after the order (inside [-15min, +5s] of the
    # payment); k % 3 == 1: paid 6s BEFORE it (outside); else unpaid
    payments = ids.filter(F.col("k") % 3 < 2).select(
        F.col("k").alias("payment_order_id"),
        at(o_secs + F.when(F.col("k") % 3 == 0, 3).otherwise(-6)).alias("ts"),
    )
    for name, df, key in [
        ("dwd_order_info", orders, "order_id"),
        ("dwd_order_detail", details, "detail_order_id"),
        ("dwd_payment_info", payments, "payment_order_id"),
    ]:
        reg.register(name, schema=df.schema)
        write_replay(df, reg.channels[name].path, n_files=3, order_by=["ts", key])

    q = pipelines.order_wide_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    reg.register("dwm_order_wide", schema=reg.read_batch(spark, "dwm_order_wide").schema)
    reg.register("dwm_payment_wide", kind="memory")
    q = pipelines.payment_wide_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    wide = interval_join(
        orders,
        details.withColumnRenamed("ts", "d_ts"),
        on=F.col("order_id") == F.col("detail_order_id"),
        left_ts=F.col("ts"),
        right_ts=F.col("d_ts"),
        lower="5 SECONDS",
        upper="5 SECONDS",
    )
    expected = interval_join(
        payments,
        wide.withColumnRenamed("ts", "w_ts"),
        on=F.col("payment_order_id") == F.col("order_id"),
        left_ts=F.col("ts"),
        right_ts=F.col("w_ts"),
        lower="15 MINUTES",
        upper="5 SECONDS",
    )
    got = reg.read_batch(spark, "dwm_payment_wide")
    assert sorted(got.columns) == sorted(expected.columns)
    cols = sorted(expected.columns)
    rows = lambda df: sorted(tuple(r) for r in df.select(*cols).collect())  # noqa: E731
    assert rows(got) == rows(expected)
    assert {r["payment_order_id"] % 6 for r in got.collect()} == {0}
    assert got.count() == 20


def test_visitor_stats_app_converges_to_batch(spark, reg, tmp_path):
    ev = events(spark)
    reg.register(
        "dwd_page_log",
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    flushed = with_sentinel(
        ev, "3 hours", event_id=-1, user_id=-1, event_type="view", value=0.0, props="{}"
    )
    write_replay(
        flushed, reg.channels["dwd_page_log"].path, n_files=3, order_by=["ts", "event_id"]
    )
    reg.register("dws_visitor_stats", kind="memory")
    q = pipelines.visitor_stats_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    max_real = ev.agg(F.max("ts")).collect()[0][0]
    got = (
        spark.sql("SELECT * FROM dws_visitor_stats_mem")
        .filter(F.to_timestamp("stt") <= max_real)
        .select("stt", "event_type", "pv_ct")
        .collect()
    )
    expected = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("pv_ct"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "event_type",
            "pv_ct",
        )
        .collect()
    )
    assert {tuple(r) for r in got} == {tuple(r) for r in expected}
    assert len(got) > 0


def test_write_ads_drops_transient(spark, tmp_path):
    from gmall_flink_0526_spark.sources.sinks import write_ads

    df = spark.createDataFrame(
        [(1, 10.0, [2, 3]), (2, 20.0, [4])],
        schema="sku_id long, order_amount double, order_id_set array<long>",
    )
    out = str(tmp_path / "ads_product_stats")
    write_ads(df, out, transient_cols=["order_id_set"])
    back = spark.read.parquet(out)
    assert sorted(back.columns) == ["order_amount", "sku_id"]
    assert back.count() == 2


def test_ods_to_dws_chain(spark, reg, tmp_path):
    """Topic-decoupled layering, like the reference's job graph: the DWD
    log-split app writes the dwd_page_log channel; the DWS visitor-stats
    app tails that same channel as its own independent query. A
    far-future 'view' sentinel flows through the DWD split into the page
    channel and flushes the DWS windows."""
    ev = events(spark)
    flushed = with_sentinel(
        ev, "3 hours", event_id=-1, user_id=-1, event_type="view", value=0.0, props='{"k": 0}'
    )
    reg.register(
        "ods_base_log",
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    write_replay(
        flushed, reg.channels["ods_base_log"].path, n_files=3, order_by=["ts", "event_id"],
    )
    q1 = pipelines.base_log_app(
        spark,
        reg,
        str(tmp_path / "ckpt"),
        props_schema=T.StructType([T.StructField("k", T.LongType())]),
    )
    q1.processAllAvailable()
    q1.stop()

    # DWD output channel becomes the DWS input channel (schema = events + parsed k)
    reg.register(
        "dwd_page_log",
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string, k long",
    )
    reg.register("dws_visitor_stats", kind="memory")
    q2 = pipelines.visitor_stats_app(spark, reg, str(tmp_path / "ckpt2"))
    q2.processAllAvailable()
    q2.stop()

    max_real = ev.agg(F.max("ts")).collect()[0][0]
    got = (
        spark.sql("SELECT stt, event_type, pv_ct FROM dws_visitor_stats_mem")
        .filter(F.to_timestamp("stt") <= max_real)
        .collect()
    )
    expected = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("pv_ct"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "event_type",
            "pv_ct",
        )
        .collect()
    )
    assert {tuple(r) for r in got} == {tuple(r) for r in expected}
    assert len(got) > 0


def test_write_ads_partitioned_layout_prunes(spark, tmp_path):
    from gmall_flink_0526_spark.sources.sinks import write_ads

    df = spark.createDataFrame(
        [("2024-01-01", 1, 5.0), ("2024-01-01", 2, 6.0), ("2024-01-02", 3, 7.0)],
        schema="dt string, sku_id long, amount double",
    )
    out = str(tmp_path / "ads_daily")
    write_ads(df, out, partition_by=["dt"])
    assert (tmp_path / "ads_daily" / "dt=2024-01-01").exists()
    back = spark.read.parquet(out).filter(F.col("dt") == "2024-01-01")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain()
    assert "PartitionFilters: [isnotnull(dt" in buf.getvalue()  # directory prune, not scan+filter
    assert back.count() == 2


def test_visitor_stats_union_chain(spark, reg, tmp_path):
    """The full A1 wiring: unique-visit and user-jump apps populate
    their DWM channels from ODS events; the union stats app tails page +
    uv + jump channels and reduces one windowed aggregate. Two sentinel
    waves (same real user, +3h and +6h) advance every source's
    watermark — the global watermark is the MIN across sources, so each
    channel needs a far-future row before real windows flush."""
    ev = events(spark)
    u0 = ev.agg(F.min("user_id")).collect()[0][0]
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    def sentinel(hours):
        return ev.limit(1).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.lit(max_ts) + F.expr(f"INTERVAL {hours} HOURS")).alias("ts"),
            F.lit(u0).cast("long").alias("user_id"),
            F.lit("view").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit('{"k": 0}').alias("props"),
        )

    full = ev.unionByName(sentinel(3)).unionByName(sentinel(6))
    reg.register(
        "ods_events",
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    write_replay(full, reg.channels["ods_events"].path, n_files=3, order_by=["ts", "event_id"])

    from gmall_flink_0526_spark.streaming.replay import run_to_end

    # both stateful apps use ProcessingTimeTimeout -> processAllAvailable
    # would never return; the runner's offsets drain instead
    run_to_end(
        spark,
        reg,
        lambda: pipelines.unique_visit_app(spark, reg, str(tmp_path / "c1"), source="ods_events"),
        n_files=3,
    )
    run_to_end(
        spark,
        reg,
        lambda: pipelines.user_jump_detail_app(spark, reg, str(tmp_path / "c2"), source="ods_events"),
        n_files=3,
    )

    # page channel: view/click real rows + both sentinels
    page = full.filter(F.col("event_type").isin("view", "click"))
    reg.register(
        "dwd_page_log",
        schema="event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    write_replay(page, reg.channels["dwd_page_log"].path, n_files=3, order_by=["ts", "event_id"])

    # re-register the DWM channels with schemas for the streaming read
    reg.register("dwm_unique_visit", schema="user_id long, dt string, first_event_id long, ts timestamp")
    reg.register("dwm_user_jump_detail", schema="user_id long, n_events long, is_bounce boolean, end_ts timestamp")
    reg.register("dws_visitor_stats_union", kind="memory")
    q = pipelines.visitor_stats_union_app(spark, reg, str(tmp_path / "c3"))
    q.processAllAvailable()
    q.stop()

    got = (
        spark.sql("SELECT * FROM dws_visitor_stats_union_mem")
        .filter(F.to_timestamp("stt") <= max_ts)
        .toPandas()
        .set_index("stt")
        .sort_index()
    )

    # batch expectations over the REAL rows only
    real = ev
    hour = lambda c: F.date_format(F.date_trunc("hour", c), "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    pv = (
        real.filter(F.col("event_type").isin("view", "click"))
        .groupBy(hour(F.col("ts")).alias("stt"))
        .agg(F.count("*").alias("pv_ct"), F.sum("value").alias("dur_sum"))
        .toPandas().set_index("stt")
    )
    from gmall_flink_0526_spark import plans

    uv_twin = plans.queries()["uv_first_visit"](spark, SF_SMOKE)
    uv = (
        uv_twin.join(real.select("event_id", "ts"), uv_twin.first_event_id == F.col("event_id"))
        .groupBy(hour(F.col("ts")).alias("stt"))
        .agg(F.count("*").alias("uv_ct"))
        .toPandas().set_index("stt")
    )
    for stt, row in got.iterrows():
        assert row["pv_ct"] == (pv.loc[stt, "pv_ct"] if stt in pv.index else 0), stt
        assert row["uv_ct"] == (uv.loc[stt, "uv_ct"] if stt in uv.index else 0), stt
        if stt in pv.index:
            assert abs(row["dur_sum"] - pv.loc[stt, "dur_sum"]) < 1e-6, stt
    # every real pv window must have been flushed and present
    assert set(pv.index) <= set(got.index)
    assert got["uj_ct"].sum() > 0  # bounce stream contributed


def test_product_stats_app_converges_to_batch(spark, reg, tmp_path):
    """A2 streaming twin: order-detail facts replayed through the
    windowed brand aggregation with broadcast dim enrichment must match
    the batch aggregation of the same rows (HLL distinct sketches are
    deterministic in the value set, so even order_ct_approx agrees)."""
    t = load_tables(spark, SF_SMOKE, "lineitem", "part", "orders")
    fact = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_orderdate").alias("ts"),
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("part_id"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("amount"),
        )
    )
    # +3h: the last facts are midnight-aligned, so flushing their
    # [00:00, 01:00) window needs watermark > 02:00 (window end + 1h)
    fact = with_sentinel(fact, "3 hours", order_id=-1, part_id=-1, quantity=0.0, amount=0.0)
    reg.register(
        "dwd_order_detail",
        schema="ts timestamp, order_id long, part_id long, quantity double, amount double",
    )
    write_replay(fact, reg.channels["dwd_order_detail"].path, n_files=3, order_by=["ts", "order_id"])
    reg.register("dws_product_stats", kind="memory")
    dim = t["part"].select(F.col("p_partkey"), F.col("p_brand"))
    q = pipelines.product_stats_app(
        spark,
        reg,
        str(tmp_path / "ckpt"),
        dims=[(dim, F.col("part_id") == F.col("p_partkey"), ["p_partkey", "p_brand"])],
    )
    q.processAllAvailable()
    q.stop()

    real = fact.filter(F.col("order_id") != -1)
    max_real = real.agg(F.max("ts")).collect()[0][0]
    got = (
        spark.sql("SELECT * FROM dws_product_stats_mem")
        .filter(F.to_timestamp("stt") <= max_real)
        .collect()
    )
    from gmall_flink_0526_spark.functions.exact import exact_sum

    expected = (
        real.join(F.broadcast(dim), F.col("part_id") == F.col("p_partkey"), "left")
        .groupBy(F.window("ts", "1 hour").alias("w"), "p_brand")
        .agg(
            F.approx_count_distinct("order_id").alias("order_ct_approx"),
            exact_sum(F.col("quantity")).alias("sku_num"),
            exact_sum(F.col("amount")).alias("order_amount"),
            F.count("*").alias("line_ct"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("stt"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("edt"),
            "p_brand", "order_ct_approx", "sku_num", "order_amount", "line_ct",
        )
        .collect()
    )
    assert {tuple(r) for r in got} == {tuple(r) for r in expected}
    assert len(got) > 0


def test_doc_dedup_app_keeps_first_arrival(spark, reg, tmp_path):
    """Streaming exact dedup (native dropDuplicates state): replaying
    documents in (ts, doc_id) order must keep exactly one record per
    distinct text — the earliest — matching the batch keeper rule."""
    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    # synthesize arrival times: deterministic, increasing with doc_id
    stream_in = docs.select(
        F.col("doc_id"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id"))).alias("ts"),
        "text",
    )
    reg.register("ods_documents", schema="doc_id long, ts timestamp, text string")
    write_replay(stream_in, reg.channels["ods_documents"].path, n_files=3, order_by=["ts", "doc_id"])
    reg.register("dwd_documents_unique", kind="memory")
    q = pipelines.doc_dedup_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT doc_id, text_hash FROM dwd_documents_unique_mem")
    expected = (
        docs.withColumn("text_hash", F.md5("text"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    assert got.count() == expected.count()
    assert {tuple(r) for r in got.select("text_hash", "doc_id").collect()} == {
        tuple(r) for r in expected.select("text_hash", "doc_id").collect()
    }


def test_session_window_app_converges_to_batch(spark, reg, tmp_path):
    """Native session_window streaming agg vs the batch sessionize twin:
    every session the watermark closed must match the gaps-and-islands
    batch answer exactly (start, end=last+gap, count, exact value sum).
    The fixture has no exact-gap-boundary pairs (where the two
    semantics legitimately differ — see session_window_app docstring)."""
    from gmall_flink_0526_spark.functions.exact import exact_sum
    from gmall_flink_0526_spark.operators.filters import sessionize

    events = load_tables(spark, SF_SMOKE, "events")["events"].select(
        "user_id", "ts", "event_id", "value"
    )
    # far-future sentinel pushes the watermark past every real
    # session's close (end + gap + watermark delay)
    stream_in = with_sentinel(events, "2 days", user_id=-1, event_id=-1, value=0.0)
    reg.register(
        "dwd_page_log", schema="user_id long, ts timestamp, event_id long, value double"
    )
    write_replay(
        stream_in, reg.channels["dwd_page_log"].path, n_files=3, order_by=["ts", "event_id"]
    )
    reg.register("dws_session_stats", kind="memory")
    q = pipelines.session_window_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT * FROM dws_session_stats_mem").filter(F.col("user_id") != -1)
    sess = sessionize(events, key="user_id", ts="ts", tiebreak="event_id", gap_minutes=10)
    expected = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 10 MINUTES")).alias("session_end"),
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("value_sum"),
        )
        .drop("session_id")
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expected.collect()}
    assert got.count() > 0


def test_doc_incremental_dedup_app_kept_set_is_pairwise_clean(spark, reg, tmp_path):
    """Streaming incremental MinHash dedup: after replaying the corpus
    in 3 micro-batches, (1) the kept set contains NO verified near-dup
    pair at all — every later member of a pair is dropped either by the
    in-batch greedy rule or by the cross-corpus signature join — and
    (2) every dropped doc really is a verified near-dup of some doc
    (nothing is dropped spuriously)."""
    from gmall_flink_0526_spark.operators import dedup as D

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    reg.register("ods_documents", schema="doc_id long, ts timestamp, text string")
    write_replay(
        stream_in, reg.channels["ods_documents"].path, n_files=3, order_by=["ts", "doc_id"]
    )
    reg.register("dwd_documents_unique")
    q = pipelines.doc_incremental_dedup_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "sigstore")
    )
    q.processAllAvailable()
    q.stop()

    kept = spark.read.parquet(reg.channels["dwd_documents_unique"].path)
    total = docs.count()
    n_kept = kept.count()
    assert 0 < n_kept <= total

    # (1) kept set is verified-pairwise clean
    sh_kept = D.doc_shingles(kept, "doc_id", "text").persist()
    kept_pairs = (
        D.jaccard_verify(sh_kept, D.lsh_candidate_pairs(sh_kept))
        .filter(F.col("jaccard") >= 0.5)
        .count()
    )
    assert kept_pairs == 0

    # (2) every dropped doc has a verified near-dup partner somewhere
    sh_all = D.doc_shingles(docs, "doc_id", "text").persist()
    verified = D.jaccard_verify(sh_all, D.lsh_candidate_pairs(sh_all)).filter(
        F.col("jaccard") >= 0.5
    )
    partners = (
        verified.select(F.col("doc_a").alias("doc_id"))
        .union(verified.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    dropped = docs.select("doc_id").join(kept.select("doc_id"), "doc_id", "left_anti")
    orphans = dropped.join(partners, "doc_id", "left_anti").count()
    assert orphans == 0
    if verified.count() > 0:
        assert n_kept < total

    # the signature store only carries survivors
    sig_ids = spark.read.parquet(str(tmp_path / "sigstore" / "sig_bands")).select(
        "doc_id"
    ).distinct()
    assert sig_ids.join(kept.select("doc_id"), "doc_id", "left_anti").count() == 0
    # store invariant: bands and shingles stay in lockstep — every kept
    # doc has BOTH its band keys and its shingles (a one-sided store
    # silently disables cross-batch verification)
    shingle_ids = spark.read.parquet(
        str(tmp_path / "sigstore" / "sig_shingles")
    ).select("doc_id").distinct()
    assert {r.doc_id for r in sig_ids.collect()} == {
        r.doc_id for r in shingle_ids.collect()
    } == {r.doc_id for r in kept.select("doc_id").distinct().collect()}


def test_doc_incremental_dedup_store_idempotent_on_restart(spark, reg, tmp_path):
    """Kill the incremental-dedup app mid-replay, restart from the same
    checkpoint: the epoch=<id> store layout must hold each surviving
    doc's signatures EXACTLY once (a retried epoch overwrites its own
    directory instead of double-appending), and bands/shingles stay in
    lockstep."""
    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    reg.register("ods_documents", schema="doc_id long, ts timestamp, text string")
    write_replay(
        stream_in, reg.channels["ods_documents"].path, n_files=4, order_by=["ts", "doc_id"]
    )
    reg.register("dwd_documents_unique")

    import time

    def start():
        return pipelines.doc_incremental_dedup_app(
            spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "sigstore")
        )

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        lp = q.lastProgress
        if lp and lp["batchId"] >= 1:
            break
        time.sleep(0.3)
    q.stop()

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    bands = spark.read.parquet(str(tmp_path / "sigstore" / "sig_bands"))
    sh = spark.read.parquet(str(tmp_path / "sigstore" / "sig_shingles"))
    # each doc's signatures live in exactly one epoch directory
    multi_epoch = (
        bands.select("doc_id", "epoch")
        .distinct()
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi_epoch == 0
    # no duplicate band rows at all (the double-append signature)
    n_rows = bands.count()
    n_distinct = bands.distinct().count()
    assert n_rows == n_distinct
    # lockstep invariant survives the restart
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        r.doc_id for r in sh.select("doc_id").distinct().collect()
    }
    # the OUTPUT channel is epoch-idempotent too: no doc emitted twice
    out = spark.read.parquet(reg.channels["dwd_documents_unique"].path)
    assert out.count() == out.select("doc_id").distinct().count()


def test_doc_incremental_dedup_recovers_from_half_written_epoch(spark, tmp_path):
    """The epoch-idempotence contract at its exact crash point
    (streaming/pipelines.doc_incremental_dedup_app docstring): a batch
    attempt that died AFTER the output write and the band write but
    BEFORE the shingle write — and before the checkpoint commit — must
    be fully rewritten on restart, not doubled, and the half-written
    epoch must never feed its own dedup decision. Final state must
    equal an uninterrupted run bit-for-bit on the kept set."""
    import shutil

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    schema = "doc_id long, ts timestamp, text string"
    split = F.col("doc_id") % 3  # deterministic batch contents for A == B

    def run_all(root):
        r = ChannelRegistry(str(root))
        r.register("ods_documents", schema=schema)
        write_replay(
            stream_in, r.channels["ods_documents"].path, n_files=3,
            order_by=["doc_id"], file_of=split,
        )
        r.register("dwd_documents_unique")
        return r

    # -- baseline: uninterrupted run over all 3 batches ----------------
    regA = run_all(tmp_path / "A")
    qa = pipelines.doc_incremental_dedup_app(
        spark, regA, str(tmp_path / "A" / "ckpt"), str(tmp_path / "A" / "store")
    )
    qa.processAllAvailable()
    qa.stop()
    baseline = {
        r.doc_id
        for r in spark.read.parquet(regA.channels["dwd_documents_unique"].path)
        .select("doc_id").collect()
    }

    # -- crashed run: hide batch 2's file, run epochs 0-1 to completion
    regB = run_all(tmp_path / "B")
    src_path = regB.channels["ods_documents"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    qb = pipelines.doc_incremental_dedup_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), str(tmp_path / "B" / "store")
    )
    qb.processAllAvailable()
    qb.stop()

    # -- simulate the dead batch-2 attempt: output + bands written with
    #    bogus content, shingles NOT, checkpoint NOT committed ---------
    out_path = regB.channels["dwd_documents_unique"].path
    spark.createDataFrame(
        [(999_999, None, "poison")], schema
    ).write.mode("overwrite").parquet(os.path.join(out_path, "epoch=2"))
    spark.createDataFrame(
        [(999_999, 0, "deadbeef")], "doc_id long, band int, bk string"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "B" / "store" / "sig_bands" / "epoch=2")
    )

    # -- reveal batch 2's file and restart from the same checkpoint ----
    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    qb2 = pipelines.doc_incremental_dedup_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), str(tmp_path / "B" / "store")
    )
    qb2.processAllAvailable()
    qb2.stop()

    got = spark.read.parquet(out_path)
    # the retried epoch REWROTE its directory: the poison row is gone
    # from output and store, and no doc appears twice
    assert got.filter(F.col("doc_id") == 999_999).count() == 0
    assert got.count() == got.select("doc_id").distinct().count()
    bands = spark.read.parquet(str(tmp_path / "B" / "store" / "sig_bands"))
    sh = spark.read.parquet(str(tmp_path / "B" / "store" / "sig_shingles"))
    assert bands.filter(F.col("doc_id") == 999_999).count() == 0
    # bands/shingles lockstep restored (the crash left them one-sided)
    assert {r.doc_id for r in bands.select("doc_id").distinct().collect()} == {
        r.doc_id for r in sh.select("doc_id").distinct().collect()
    }
    # recovered run == uninterrupted run
    assert {r.doc_id for r in got.select("doc_id").collect()} == baseline


def test_doc_quality_gate_app_converges_to_batch(spark, reg, tmp_path):
    """Streaming quality gate + exact dedup == the batch twin: docs
    passing both gates, one survivor per content digest (first arrival
    = min ts = min doc_id in this replay)."""
    from gmall_flink_0526_spark.operators import textops

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    reg.register("ods_documents", schema="doc_id long, ts timestamp, text string")
    write_replay(
        stream_in, reg.channels["ods_documents"].path, n_files=3, order_by=["ts", "doc_id"]
    )
    reg.register("dwd_documents_quality")
    q = pipelines.doc_quality_gate_app(spark, reg, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(reg.channels["dwd_documents_quality"].path)
    staged = textops.with_tokens(docs)
    toks = F.col("toks")
    gated = staged.withColumn("sr", textops.stop_ratio(toks)).withColumn(
        "qy", textops.quality_score(toks, F.col("text"))
    ).filter((F.col("sr") >= 0.05) & (F.col("qy") >= 0.5))
    from pyspark.sql import Window as W

    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    expected = (
        gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    assert {r.doc_id for r in got.select("doc_id").collect()} == {
        r.doc_id for r in expected.select("doc_id").collect()
    }
    # the gates really cut something, and the output carries quality
    assert 0 < got.count() < docs.count()
    assert "quality" in got.columns


def test_compaction_interleaved_with_stream_preserves_kept_set(spark, tmp_path):
    """The maintenance schedule the compactor docstring promises: run 3
    micro-batches, compact the signature store into a base generation,
    resume the SAME stream for 3 more batches. The app's
    ``epoch < current`` pruning must read the negative-epoch base like
    any prior epoch, so the final kept set equals an uninterrupted
    6-batch run with no compaction."""
    import shutil

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    schema = "doc_id long, ts timestamp, text string"
    split = F.col("doc_id") % 6

    def setup(root):
        r = ChannelRegistry(str(root))
        r.register("ods_documents", schema=schema)
        write_replay(
            stream_in, r.channels["ods_documents"].path, n_files=6,
            order_by=["doc_id"], file_of=split,
        )
        r.register("dwd_documents_unique")
        return r

    def run(r, root):
        q = pipelines.doc_incremental_dedup_app(
            spark, r, str(root / "ckpt"), str(root / "store")
        )
        q.processAllAvailable()
        q.stop()

    # uninterrupted 6-epoch baseline
    regA = setup(tmp_path / "A")
    run(regA, tmp_path / "A")
    baseline = {
        r.doc_id
        for r in spark.read.parquet(regA.channels["dwd_documents_unique"].path)
        .select("doc_id").collect()
    }

    # compacted run: 3 epochs -> compact -> 3 epochs
    regB = setup(tmp_path / "B")
    src_path = regB.channels["ods_documents"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    for f in files[3:]:
        shutil.move(os.path.join(src_path, f), str(tmp_path / f))
    run(regB, tmp_path / "B")
    pipelines.compact_signature_store(spark, str(tmp_path / "B" / "store"), upto_epoch=2)
    bands_epochs = {
        r["epoch"]
        for r in spark.read.parquet(str(tmp_path / "B" / "store" / "sig_bands"))
        .select("epoch").distinct().collect()
    }
    assert bands_epochs == {-1}  # epochs 0-2 merged into one base
    for f in files[3:]:
        shutil.move(str(tmp_path / f), os.path.join(src_path, f))
    run(regB, tmp_path / "B")

    got = {
        r.doc_id
        for r in spark.read.parquet(regB.channels["dwd_documents_unique"].path)
        .select("doc_id").collect()
    }
    assert got == baseline
    # the store ends with the base plus exactly the post-compaction epochs
    final_epochs = {
        r["epoch"]
        for r in spark.read.parquet(str(tmp_path / "B" / "store" / "sig_bands"))
        .select("epoch").distinct().collect()
    }
    assert final_epochs == {-1, 3, 4, 5}


def test_signature_store_compaction_preserves_decisions(spark, reg, tmp_path):
    """Compacting the signature store must not change anything the
    dedup app can observe: same doc_id/signature content, one base
    generation replacing the merged epochs, and identical cross-corpus
    drop decisions for a subsequent batch."""
    from gmall_flink_0526_spark.operators import dedup as D

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    reg.register("ods_documents", schema="doc_id long, ts timestamp, text string")
    write_replay(
        stream_in, reg.channels["ods_documents"].path, n_files=3, order_by=["ts", "doc_id"]
    )
    reg.register("dwd_documents_unique")
    q = pipelines.doc_incremental_dedup_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "sigstore")
    )
    q.processAllAvailable()
    q.stop()

    store = str(tmp_path / "sigstore")
    bands_path = os.path.join(store, "sig_bands")
    # materialize: this frame must survive the store rewrite below
    before = spark.read.parquet(bands_path).drop("epoch").distinct().localCheckpoint()
    n_before = before.count()
    probe = docs.limit(50)
    cand_before = D.lsh_candidates_against(
        D.lsh_band_keys(D.doc_shingles(probe, "doc_id", "text")),
        spark.read.parquet(bands_path).drop("epoch"),
    )
    pairs_before = {tuple(r) for r in cand_before.collect()}

    # compaction is disk-to-disk: it must not pin anything in executor
    # memory (the pre-r7 localCheckpoint design left the whole merged
    # store persisted — at a 100 TB store that is a memory-bound op)
    pinned_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    pipelines.compact_signature_store(spark, store, upto_epoch=10)
    pinned_after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert pinned_after <= pinned_before

    after_df = spark.read.parquet(bands_path)
    epochs = {r["epoch"] for r in after_df.select("epoch").distinct().collect()}
    assert epochs == {-1}  # one base generation left
    after = after_df.drop("epoch").distinct()
    assert after.count() == n_before
    assert after.exceptAll(before).count() == 0 and before.exceptAll(after).count() == 0
    cand_after = D.lsh_candidates_against(
        D.lsh_band_keys(D.doc_shingles(probe, "doc_id", "text")),
        after_df.drop("epoch"),
    )
    assert {tuple(r) for r in cand_after.collect()} == pairs_before
    # idempotent: compacting a single base is a no-op
    pipelines.compact_signature_store(spark, store, upto_epoch=10)
    assert {
        r["epoch"] for r in spark.read.parquet(bands_path).select("epoch").distinct().collect()
    } == {-1}


def test_vec_store_compaction_preserves_decisions(spark, reg, tmp_path):
    """The embedding app's kept-vector store shares the compactor
    (subs=("vec_store",)): compacting must leave one base generation
    with identical (vec_id, c, embedding) content, and a subsequent
    batch's cross-store candidate set must be unchanged."""
    emb = load_tables(spark, SF_SMOKE, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    reg.register("ods_embeddings", schema="vec_id long, embedding array<float>")
    write_replay(
        emb, reg.channels["ods_embeddings"].path, n_files=3, order_by=["vec_id"],
        file_of=F.col("vec_id") % 3,
    )
    reg.register("dwd_embeddings_unique")
    q = pipelines.emb_incremental_dedup_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "vstore")
    )
    q.processAllAvailable()
    q.stop()

    store = str(tmp_path / "vstore")
    vec_path = os.path.join(store, "vec_store")
    before = (
        spark.read.parquet(vec_path).drop("epoch").distinct().localCheckpoint()
    )
    n_before = before.count()
    by_cluster_before = {
        (r["c"], r["n"]) for r in before.groupBy("c").agg(F.count("*").alias("n")).collect()
    }

    pipelines.compact_signature_store(
        spark, store, upto_epoch=10, subs=("vec_store",)
    )

    after_df = spark.read.parquet(vec_path)
    epochs = {r["epoch"] for r in after_df.select("epoch").distinct().collect()}
    assert epochs == {-1}  # one base generation
    after = after_df.drop("epoch").distinct()
    assert after.count() == n_before
    assert after.exceptAll(before).count() == 0 and before.exceptAll(after).count() == 0
    by_cluster_after = {
        (r["c"], r["n"]) for r in after.groupBy("c").agg(F.count("*").alias("n")).collect()
    }
    assert by_cluster_after == by_cluster_before
    # the centroid store is untouched by compaction (it is not
    # epoch-addressed — one bootstrap generation for the store's life)
    assert spark.read.parquet(os.path.join(store, "centroids")).count() >= 8
    # idempotent: compacting a single base is a no-op
    pipelines.compact_signature_store(spark, store, upto_epoch=10, subs=("vec_store",))
    assert {
        r["epoch"] for r in spark.read.parquet(vec_path).select("epoch").distinct().collect()
    } == {-1}


def test_compaction_sweeps_orphan_tmp_then_commits(spark, tmp_path):
    """Crash contract of the disk-to-disk compactor: a ``.compact.tmp``
    left by a compaction that died mid-write is swept on the next run
    (the store itself was never touched), and the new base generation
    appears only via the rename commit — merged content identical to
    the union of the merged epochs."""
    store = str(tmp_path / "store")
    p = os.path.join(store, "sig_bands")
    rows = spark.range(30).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("band"),
        F.concat(F.lit("k"), (F.col("id") % 7)).alias("bk"),
    )
    for e in range(3):
        rows.filter(F.col("doc_id") % 3 == e).write.parquet(
            os.path.join(p, f"epoch={e}")
        )
    # orphan from a "crashed" earlier compaction — wrong content on
    # purpose; it must be swept, never committed
    rows.limit(5).write.parquet(p + ".compact.tmp")

    pipelines.compact_signature_store(spark, store, upto_epoch=10)

    assert not os.path.exists(p + ".compact.tmp")
    after = spark.read.parquet(p)
    assert {r["epoch"] for r in after.select("epoch").distinct().collect()} == {-1}
    got = {tuple(r) for r in after.drop("epoch").collect()}
    assert got == {tuple(r) for r in rows.collect()}


def test_incremental_apps_bound_checkpoint_retention(spark, reg, tmp_path, monkeypatch):
    """Each micro-batch localCheckpoints its kept frame to cut lineage
    from the store it is about to write, and releases that checkpoint
    and its persisted frames explicitly when the epoch exits — not
    when the JVM happens to garbage-collect them. Pin it: after an
    N-epoch replay no RDD the replay created remains pinned; a
    regression to GC-timed or per-epoch retention fails this. Three
    runs: doc_incremental_dedup_app's success path, ptron_gate_app's
    bootstrap-fit path (stash epochs, then the fit epoch), and a
    doc_incremental_dedup_app epoch whose store writes fail after the
    checkpoint — the error propagates, the query terminates and the
    epoch still releases what it pinned."""
    from pyspark.sql.readwriter import DataFrameWriter

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"].select(
        "doc_id", "text"
    )
    reg.register("ods_documents", schema="doc_id long, text string")
    write_replay(
        docs, reg.channels["ods_documents"].path, n_files=3, order_by=["doc_id"],
        file_of=F.col("doc_id") % 3,
    )
    reg.register("dwd_documents_unique")

    def pinned() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # compare RDD ids, not counts: an earlier test's RDD that the JVM's
    # GC releases meanwhile would offset one the replay left behind
    pinned_before = pinned()
    q = pipelines.doc_incremental_dedup_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q.processAllAvailable()
    q.stop()
    assert pinned() - pinned_before == set()
    # and the stream still produced its kept output
    assert spark.read.parquet(reg.channels["dwd_documents_unique"].path).count() > 0

    reg_p, n = _ptron_replay(spark, tmp_path / "ptron")
    pinned_before = pinned()
    q = pipelines.ptron_gate_app(
        spark, reg_p, str(tmp_path / "ptron" / "ckpt"), str(tmp_path / "ptron" / "store"),
        expected_docs=n,
    )
    q.processAllAvailable()
    q.stop()
    assert pinned() - pinned_before == set()
    assert os.path.exists(str(tmp_path / "ptron" / "store" / "_FIT_EPOCH"))

    parquet = DataFrameWriter.parquet

    def fail_epoch_1(self, path, *args, **kwargs):
        if os.path.basename(path) == "epoch=1":
            raise RuntimeError("store write failed at epoch 1")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", fail_epoch_1)
    pinned_before = pinned()
    q = pipelines.doc_incremental_dedup_app(
        spark, reg, str(tmp_path / "ckpt_fail"), str(tmp_path / "store_fail")
    )
    try:
        with pytest.raises(Exception, match="store write failed at epoch 1"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert spark.streams.active == []
    assert pinned() - pinned_before == set()
    # the failure hit epoch 1 after epoch 0 committed its stores
    assert os.path.isdir(str(tmp_path / "store_fail" / "sig_bands" / "epoch=0"))


def test_asof_join_matches_python_model(spark):
    """asof_join vs a plain-Python backward-inclusive model on a fixture
    with every edge the contract names: equal-ts match (inclusive), a
    left row before any right row (left-kept / inner-dropped), multiple
    left rows sharing one right row, and a key with no right rows at
    all. Also pins the collision guard."""
    from gmall_flink_0526_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 7, "d"), (3, 9, "e")],
        "k int, ts int, pl string",
    )
    right = spark.createDataFrame(
        [(1, 5, 50.0), (1, 15, 150.0), (2, 8, 80.0)], "k int, ts int, v double"
    )
    rmodel = {1: [(5, 50.0), (15, 150.0)], 2: [(8, 80.0)]}

    def model(k, ts):
        cands = [(t, v) for t, v in rmodel.get(k, []) if t <= ts]
        return max(cands)[1] if cands else None

    expect = {(r[0], r[1]): model(r[0], r[1]) for r in left.collect()}
    got_left = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(left, right, on=["k"], ts_col="ts", how="left").collect()
    }
    assert got_left == expect  # every left row kept; values per model
    got_inner = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(left, right, on=["k"], ts_col="ts").collect()
    }
    assert got_inner == {kt: v for kt, v in expect.items() if v is not None}
    assert got_inner[(1, 5)] == 50.0  # equal-ts match is inclusive
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right.withColumnRenamed("v", "pl"), on=["k"], ts_col="ts")


def test_asof_join_null_right_values_do_not_leak_previous_row(spark):
    """A matched right row whose value column is NULL must come through
    as NULL — the struct-packed fill contract (VERDICT r9 'what's
    wrong' #2): before the fix, the per-column ignore-nulls fill
    silently carried the PREVIOUS row's value through a genuine NULL.
    Also pins the mixed case: a second value column that IS set on the
    null row still arrives, and 'no match yet' stays distinguishable
    from 'matched a NULL' via how='inner'."""
    from gmall_flink_0526_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 5), (1, 12), (1, 25), (2, 3)], "k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 4, 40.0, "x"), (1, 10, None, "y"), (1, 20, 200.0, None)],
        "k int, ts int, v double, tag string",
    )
    rows = {
        (r["k"], r["ts"]): (r["v"], r["tag"])
        for r in asof_join(left, right, on=["k"], ts_col="ts", how="left").collect()
    }
    assert rows[(1, 5)] == (40.0, "x")
    # matched the ts=10 row: v is genuinely NULL (not 40.0 carried), tag set
    assert rows[(1, 12)] == (None, "y")
    # matched the ts=20 row: tag genuinely NULL (not 'y' carried), v set
    assert rows[(1, 25)] == (200.0, None)
    assert rows[(2, 3)] == (None, None)  # no match at all
    inner = {
        (r["k"], r["ts"])
        for r in asof_join(left, right, on=["k"], ts_col="ts").collect()
    }
    # inner keeps the matched-a-NULL rows, drops only the truly unmatched
    assert inner == {(1, 5), (1, 12), (1, 25)}


def test_funnel_chain_cross_batch_attachment_edges(spark):
    """funnel_chain's load-bearing edges, split adversarially across
    micro-batches:

    - STORED ATTACHMENT: user 1's click@2 resolved view@1 at click
      arrival; a NEWER view@4 then lands in state. A purchase@5 in the
      NEXT batch must read (click 2, view 1) — recomputing the click's
      view from the seeded state-view (ts 4 > 2) would either attach
      the wrong view or lose it to NULL.
    - LEFT semantics: user 2 purchases before any click -> both NULL.
    - NULL attachment survives: user 3's click had no view; a later
      view must not retro-attach to that click, but a NEWER click
      after the view picks it up.
    - Same-instant chain: user 4's view/click/purchase all at ts 7
      resolve fully (inclusive backward at every link).
    """
    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import funnel_chain

    def T(sec):
        return f"2024-01-01 00:00:{sec:02d}"

    # users 1-4 share one state bucket
    uid = dict(zip((1, 2, 3, 4), same_bucket_keys(spark, 4)))

    rows = [
        # (event_id, ts, user_id, event_type, batch)
        (101, T(1), 1, "view", 0),
        (102, T(2), 1, "click", 0),
        (103, T(4), 1, "view", 0),
        (104, T(5), 1, "purchase", 1),
        (201, T(3), 2, "purchase", 0),
        (301, T(1), 3, "click", 0),
        (302, T(2), 3, "purchase", 0),
        (303, T(3), 3, "view", 0),
        (304, T(4), 3, "purchase", 1),
        (305, T(5), 3, "click", 1),
        (306, T(6), 3, "purchase", 1),
        (401, T(7), 4, "view", 1),
        (402, T(7), 4, "click", 1),
        (403, T(7), 4, "purchase", 1),
    ]
    src = spark.createDataFrame(
        [(e, t, uid[u], y, b) for e, t, u, y, b in rows],
        "event_id long, ts_s string, user_id long, event_type string, b int",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "b"
    )
    out = {
        r["event_id"]: (r["click_ts"], r["view_ts"])
        for r in replay_stateful(
            spark, src, funnel_chain, order_by=["ts", "event_id"],
            file_of=F.col("b"), n_files=2,
        ).collect()
    }

    def ts(sec):
        import datetime

        return datetime.datetime(2024, 1, 1, 0, 0, sec)

    assert out[104] == (ts(2), ts(1))  # stored view@1, NOT state's view@4
    assert out[201] == (None, None)  # purchase before any click
    assert out[302] == (ts(1), None)  # click had no view yet
    assert out[304] == (ts(1), None)  # later view must not retro-attach
    assert out[306] == (ts(5), ts(3))  # new click after the view binds it
    assert out[403] == (ts(7), ts(7))  # same-instant full chain


def test_asof_join_validate_raises_on_duplicate_key_ts(spark):
    """validate=True proves the at-most-one-right-row-per-(key, ts)
    precondition (r10 VERDICT #5): duplicates raise with the offending
    key named; a tie-free right passes and joins identically to the
    unvalidated call. Ties are otherwise OUT OF CONTRACT and silently
    nondeterministic — the probe is the guard rail tests and small-SF
    pipeline runs opt into."""
    from gmall_flink_0526_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10), (2, 10)], "k int, ts int")
    clean = spark.createDataFrame(
        [(1, 5, 50.0), (2, 8, 80.0)], "k int, ts int, v double"
    )
    got = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join(
            left, clean, on=["k"], ts_col="ts", how="left", validate=True
        ).collect()
    }
    assert got == {(1, 10): 50.0, (2, 10): 80.0}
    dup = spark.createDataFrame(
        [(1, 5, 50.0), (1, 5, 51.0), (2, 8, 80.0)], "k int, ts int, v double"
    )
    with pytest.raises(ValueError, match="at-most-one-row-per"):
        asof_join(left, dup, on=["k"], ts_col="ts", validate=True)
    # unvalidated call still accepts the same input (contract is caller's)
    asof_join(left, dup, on=["k"], ts_col="ts").collect()


def test_cms_sketch_app_merges_to_batch_grid_and_survives_retry(spark, tmp_path):
    """The streaming CMS app's two contracts: (a) MERGEABILITY — the
    per-epoch grids summed equal the one-shot batch grid bit-for-bit
    (CMS merge is plain addition); (b) the epoch-overwrite crash rule —
    a batch attempt that died after writing its grid but before the
    checkpoint commit is REWRITTEN on restart, never double-counted,
    so the recovered sketch still equals the uninterrupted one."""
    import shutil

    from gmall_flink_0526_spark.operators.aggregates import cms_counters
    from gmall_flink_0526_spark.operators.textops import tokenize

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    schema = "doc_id long, ts timestamp, text string"
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register("ods_documents", schema=schema)
    write_replay(
        stream_in, reg.channels["ods_documents"].path, n_files=3,
        order_by=["doc_id"], file_of=F.col("doc_id") % 3,
    )

    # hide batch 2's file; run epochs 0-1 to completion
    src_path = reg.channels["ods_documents"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.cms_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q.processAllAvailable()
    q.stop()

    # dead batch-2 attempt: grid written (poisoned), checkpoint not
    # committed
    spark.createDataFrame(
        [(0, 0, 10**9)], "i int, b long, ct long"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "store" / "cms_grid" / "epoch=2")
    )

    # reveal the file, restart from the same checkpoint: epoch 2 must
    # rewrite its directory
    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.cms_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q2.processAllAvailable()
    q2.stop()

    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    exp = {(r["i"], r["b"]): r["ct"] for r in cms_counters(toks, "tok").collect()}
    got = {
        (r["i"], r["b"]): r["ct"]
        for r in pipelines.merged_store(spark, str(tmp_path / "store"), "cms_grid").collect()
    }
    assert got == exp  # poison gone, nothing double-counted, sums exact


def test_bloom_filter_app_or_merges_to_batch_bitset_and_survives_retry(spark, tmp_path):
    """The streaming Bloom app's two contracts, on the CMS test's exact
    shape: (a) OR-MERGEABILITY — the per-epoch word grids bit-or'd
    equal the one-shot batch word table bit-for-bit (fixed width is
    the precondition, provisioned up front); (b) the epoch-overwrite
    crash rule — a dead batch attempt that left a POISONED grid (all
    bits set in word 0, which would otherwise inject false positives
    forever) is REWRITTEN on restart, so the recovered filter still
    equals the uninterrupted one."""
    import shutil

    from gmall_flink_0526_spark.operators import dedup as D
    from gmall_flink_0526_spark.plans.llmprep import DECON_NGRAM, EVAL_MOD

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    ev_docs = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    bits = D.bloom_width(
        D.eval_gram_count(docs, F.col("doc_id") % EVAL_MOD == 0, ngram=DECON_NGRAM)
    )
    stream_in = ev_docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register("ods_eval_docs", schema="doc_id long, ts timestamp, text string")
    write_replay(
        stream_in, reg.channels["ods_eval_docs"].path, n_files=3,
        order_by=["doc_id"], file_of=F.col("doc_id") % 3,
    )

    # hide batch 2's file; run epochs 0-1 to completion
    src_path = reg.channels["ods_eval_docs"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.bloom_filter_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store"),
        bits=bits, ngram=DECON_NGRAM,
    )
    q.processAllAvailable()
    q.stop()

    # dead batch-2 attempt: poisoned grid written, checkpoint not committed
    spark.createDataFrame(
        [(0, -1)], "w long, bits long"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "store" / "bloom_words" / "epoch=2")
    )

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.bloom_filter_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store"),
        bits=bits, ngram=DECON_NGRAM,
    )
    q2.processAllAvailable()
    q2.stop()

    ev = (
        D.doc_shingles(ev_docs, "doc_id", "text", ngram=DECON_NGRAM)
        .select(F.explode("s").alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )
    exp = {(r["w"], r["bits"]) for r in D.bloom_word_table(ev, bits).collect()}
    got = {
        (r["w"], r["bits"])
        for r in pipelines.merged_store(spark, str(tmp_path / "store"), "bloom_words").collect()
    }
    assert got == exp  # poison gone, or-merge equals the batch bitset


def test_hist_sketch_app_sums_to_batch_grid_and_survives_retry(spark, tmp_path):
    """The streaming histogram app's two contracts (the sketch trio's
    third member, same shape as the CMS and Bloom tests): (a)
    ADDITIVITY — per-epoch grids summed equal the one-shot batch grid
    bit-for-bit, under bounds PROVISIONED once up front; (b) the
    epoch-overwrite crash rule — a dead batch attempt's poisoned grid
    is rewritten on restart, so the recovered sketch still equals the
    uninterrupted one."""
    import shutil

    from gmall_flink_0526_spark.operators.aggregates import hist_counters

    ev = load_tables(spark, SF_SMOKE, "events")["events"].select(
        "event_id", "ts", "event_type", "value"
    )
    bounds_rows = [
        (r["event_type"], float(r["vmin"]), float(r["vmax"]))
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        .collect()
    ]
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register(
        "ods_events", schema="event_id long, ts timestamp, event_type string, value double"
    )
    write_replay(
        ev, reg.channels["ods_events"].path, n_files=3,
        order_by=["event_id"], file_of=F.col("event_id") % 3,
    )

    src_path = reg.channels["ods_events"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.hist_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store"), bounds_rows
    )
    q.processAllAvailable()
    q.stop()

    # dead batch-2 attempt: poisoned grid written, checkpoint not committed
    spark.createDataFrame(
        [("view", 0, 10**9)], "event_type string, b int, ct long"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "store" / "hist_grid" / "epoch=2")
    )

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.hist_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store"), bounds_rows
    )
    q2.processAllAvailable()
    q2.stop()

    bounds = spark.createDataFrame(
        bounds_rows, "event_type string, vmin double, vmax double"
    )
    exp = {
        (r["event_type"], r["b"]): r["ct"]
        for r in hist_counters(ev, "event_type", "value", bounds).collect()
    }
    got = {
        (r["event_type"], r["b"]): r["ct"]
        for r in pipelines.merged_store(spark, str(tmp_path / "store"), "hist_grid").collect()
    }
    assert got == exp  # poison gone, per-epoch sums equal the batch grid


def test_bpe_train_loop_deep_run_checkpoints_and_matches_python_model(spark):
    """The trainer past the lineage-cut cadence: BPE_CKPT_EVERY + 4
    rounds over a synthetic vocab drives the localCheckpoint path (at
    the catalog's N=8 it never fires) and every learned merge —
    including the rounds AFTER the cut — must match a plain-Python
    BPE trainer with the identical greedy-overlap and tie rules. A
    lineage cut that dropped or reordered state would diverge from
    round 17 on."""
    from gmall_flink_0526_spark.plans.text import BPE_CKPT_EVERY, _train_bpe_loop

    words = [
        "the", "fast", "key", "order", "sort", "table", "scan", "merge",
        "part", "window", "small", "hash", "join", "batch", "stream",
        "spark", "dup", "group", "query", "row", "data", "slow",
        "filter", "customer", "line", "value", "agg", "column", "big",
    ]
    vd = {w: (i * 7) % 13 + 1 for i, w in enumerate(words)}
    vocab = spark.createDataFrame(list(vd.items()), "word string, freq long")
    rounds = BPE_CKPT_EVERY + 4
    got = [(r, ma, mb, int(ct)) for r, ma, mb, ct in _train_bpe_loop(vocab, rounds=rounds)]

    syms = {w: list(w) for w in vd}
    exp = []
    for r in range(1, rounds + 1):
        counts: dict = {}
        for w, f in vd.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        (ma, mb), ct = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]}|{kv[0][1]}")
        )
        exp.append((r, ma, mb, ct))
        for w, s in syms.items():
            out: list = []
            for t in s:
                if out and out[-1] == ma and t == mb:
                    out[-1] = ma + mb
                else:
                    out.append(t)
            syms[w] = out
    assert got == exp


def test_drift_epoch_range_reader_survives_poisoned_epoch(spark, tmp_path):
    """value_drift_chi2_stream's store contract: the epoch-RANGE reader
    (baseline = epochs < 2, live = rest) over the shared 4-epoch
    histogram store equals the batch grid split by the same explicit
    event_id mod classes — and still does after a dead batch attempt
    leaves a poisoned epoch directory that the restart overwrites
    (the range reader would double-count a stale epoch if the crash
    rule ever regressed, unlike the sum-all quantile reader which
    only miscounts)."""
    import shutil

    from gmall_flink_0526_spark.operators.aggregates import hist_counters
    from gmall_flink_0526_spark.plans.logs import drift_chi2_from_grid

    ev = load_tables(spark, SF_SMOKE, "events")["events"].select(
        "event_id", "ts", "event_type", "value"
    )
    bounds_rows = [
        (r["event_type"], float(r["vmin"]), float(r["vmax"]))
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        .collect()
    ]
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register(
        "ods_events", schema="event_id long, ts timestamp, event_type string, value double"
    )
    write_replay(
        ev, reg.channels["ods_events"].path, n_files=4,
        order_by=["event_id"], file_of=F.pmod(F.col("event_id"), F.lit(4)),
    )
    src_path = reg.channels["ods_events"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.hist_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store"), bounds_rows
    )
    q.processAllAvailable()
    q.stop()
    # dead batch-3 attempt: poisoned LIVE-range grid written, checkpoint
    # not committed — a stale live epoch skews chi2 directly
    spark.createDataFrame(
        [("view", 0, 10**9)], "event_type string, b int, ct long"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "store" / "hist_grid" / "epoch=3")
    )
    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.hist_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store"), bounds_rows
    )
    q2.processAllAvailable()
    q2.stop()

    bounds = spark.createDataFrame(
        bounds_rows, "event_type string, vmin double, vmax double"
    )
    base = F.pmod(F.col("event_id"), F.lit(4)) < 2
    exp_grid = (
        hist_counters(ev.filter(base), "event_type", "value", bounds)
        .withColumnRenamed("ct", "c0")
        .join(
            hist_counters(ev.filter(~base), "event_type", "value", bounds)
            .withColumnRenamed("ct", "c1"),
            ["event_type", "b"],
            "full",
        )
        .fillna(0, ["c0", "c1"])
        .filter(F.col("b") >= 0)
    )
    store = spark.read.parquet(str(tmp_path / "store" / "hist_grid"))
    got_grid = (
        store.filter(F.col("b") >= 0)
        .groupBy("event_type", "b")
        .agg(
            F.sum(F.when(F.col("epoch") < 2, F.col("ct")).otherwise(0)).alias("c0"),
            F.sum(F.when(F.col("epoch") >= 2, F.col("ct")).otherwise(0)).alias("c1"),
        )
    )
    as_map = lambda df: {  # noqa: E731
        (r["event_type"], r["b"]): (r["c0"], r["c1"]) for r in df.collect()
    }
    assert as_map(got_grid) == as_map(exp_grid)  # poison gone, ranges exact
    chi = lambda df: {  # noqa: E731
        r["event_type"]: (r["n0"], r["n1"], r["used_bins"], r["chi2"])
        for r in drift_chi2_from_grid(df).collect()
    }
    assert chi(got_grid) == chi(exp_grid)


def test_hist_sentinel_bin_for_nulls_and_unprovisioned_groups(spark):
    """The grid's unbinnable contract (r10 review findings): a NULL
    value lands in sentinel bin -1 (NOT the top bin via the
    NULL-swallowing least/greatest), a group absent from the
    provisioned domain keeps ALL its rows visible under -1 (not
    silently inner-joined away), and hist_quantiles excludes the
    sentinel from both n and the estimates."""
    from gmall_flink_0526_spark.operators.aggregates import (
        hist_counters,
        hist_quantiles,
    )

    df = spark.createDataFrame(
        [("a", 0.0), ("a", 10.0), ("a", None), ("new", 5.0), ("new", 7.0)],
        "event_type string, value double",
    )
    bounds = spark.createDataFrame(
        [("a", 0.0, 10.0)], "event_type string, vmin double, vmax double"
    )
    grid = {
        (r["event_type"], r["b"]): r["ct"]
        for r in hist_counters(df, "event_type", "value", bounds).collect()
    }
    assert grid[("a", -1)] == 1  # the NULL value, not in bin 255
    assert grid[("a", 0)] == 1 and grid[("a", 255)] == 1
    assert grid[("new", -1)] == 2  # unprovisioned group stays visible
    est = {
        (r["event_type"], r["q"]): (r["n"], r["hist_q"])
        for r in hist_quantiles(
            hist_counters(df, "event_type", "value", bounds), bounds
        ).collect()
    }
    # n counts the two BINNABLE rows only; estimates never see -1
    assert est[("a", "p50")][0] == 2
    assert ("new", "p50") not in est  # no bounds -> no estimate rows


def test_temporal_join_tie_rule_across_batches(spark):
    """The as-of tie rule under an ADVERSARIAL explicit micro-batch
    split: two equal-ts builds with different values land in DIFFERENT
    batches — state must resolve to the max value (the batch twin's
    (key, ts)+MAX rule), not last-batch-wins — and a same-instant
    build+probe pair co-batched (as asof_click_stream's event-time
    split guarantees) must match inclusively. Probes before any build
    keep LEFT-NULL columns."""
    from datetime import datetime

    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import temporal_join

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    # (event_id, ts, user_id, event_type, value, batch)
    rows = [
        (1, t(1), 10, "click", 7.0, 0),     # build t1 v7  -> batch 0
        (2, t(0), 20, "purchase", 9.0, 0),  # probe before any build
        (3, t(1), 10, "click", 3.0, 1),     # EQUAL-ts build v3, batch 1:
                                            # max-merge must keep v7
        (4, t(2), 10, "purchase", 1.0, 1),  # probe -> (t1, 7.0) not 3.0
        (5, t(3), 10, "click", 5.0, 1),     # later build replaces state
        (6, t(4), 10, "purchase", 2.0, 2),  # probe -> (t3, 5.0)
        (7, t(5), 30, "click", 2.0, 2),     # same-instant build+probe
        (8, t(5), 30, "purchase", 4.0, 2),  # co-batched: inclusive match
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, b int",
    )
    out = {
        r["event_id"]: (r["build_ts"], r["build_value"])
        for r in replay_stateful(
            spark, src, temporal_join, order_by=["ts", "event_id"],
            file_of=F.col("b"),
        ).collect()
    }
    assert out == {
        2: (None, None),
        4: (t(1), 7.0),
        6: (t(3), 5.0),
        8: (t(5), 2.0),
    }


def test_temporal_enrich_tombstone_replaces_carried_version(spark):
    """temporal_enrich's two contracts over temporal_join: (a) a CDC
    DELETE tombstone (build row with all-NULL values) REPLACES the
    carried version — probes after it read NULLs, not the dead
    version's values (the positional carry; an ignore-null fill would
    leak); (b) N value columns of mixed types (double + timestamp)
    ride as ONE version, including across a micro-batch boundary
    through state."""
    from datetime import datetime

    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import temporal_enrich

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    # (o_orderkey, ts, custkey, event_type, acctbal_asof, version_from, b)
    rows = [
        (-1, t(1), 10, "dimchange", 50.0, t(1), 0),   # version 1
        (101, t(2), 10, "order", None, None, 0),      # -> v1
        (-2, t(3), 10, "dimchange", None, None, 1),   # TOMBSTONE (batch 2)
        (102, t(4), 10, "order", None, None, 1),      # -> deleted: NULLs
        (-3, t(5), 10, "dimchange", 70.0, t(5), 1),   # re-insert
        (103, t(6), 10, "order", None, None, 2),      # -> v3 ACROSS batch
        (104, t(0), 20, "order", None, None, 0),      # probe before any build
    ]
    src = spark.createDataFrame(
        rows, "o_orderkey long, ts timestamp, custkey long, event_type string, "
        "acctbal_asof double, version_from timestamp, b int",
    )
    op = lambda s: temporal_enrich(
        s, key="custkey", ts="ts", id_col="o_orderkey",
        val_cols=("acctbal_asof", "version_from"),
    )
    out = {
        r["o_orderkey"]: (r["build_ts"], r["acctbal_asof"], r["version_from"])
        for r in replay_stateful(
            spark, src, op, order_by=["ts", "o_orderkey"], file_of=F.col("b"),
        ).collect()
    }
    assert out[101] == (t(1), 50.0, t(1))
    # tombstone matched: build exists (build_ts = delete time), values NULL
    assert out[102] == (t(3), None, None)
    # re-insert carried through state into batch 3
    assert out[103] == (t(5), 70.0, t(5))
    assert out[104] == (None, None, None)  # LEFT: probe before any build


def test_temporal_enrich_int_value_survives_tombstone_carry(spark):
    """A LongType value column must survive a tombstone THROUGH STATE:
    batch N stores (ts, None), batch N+1 arrives all-int — the state
    seed cannot cast None into int64, and the masked output cannot
    assign None into an int64 carry (the r10 review finding: only
    double/timestamp survived). Pins the float-upcast path end to
    end, including a post-tombstone probe in a LATER batch."""
    from datetime import datetime

    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import temporal_enrich

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    rows = [
        (1, t(1), 10, "dimchange", 5, 0),     # int build
        (101, t(2), 10, "order", None, 0),    # -> 5
        (-2, t(3), 10, "dimchange", None, 0), # tombstone (same batch)
        (102, t(4), 10, "order", None, 1),    # batch 2: seed is (t3, None)
        (-3, t(5), 10, "dimchange", 9, 1),    # int build after tombstone
        (103, t(6), 10, "order", None, 2),    # batch 3: int through state
    ]
    src = spark.createDataFrame(
        rows, "o_orderkey long, ts timestamp, custkey long, event_type string, "
        "val long, b int",
    )
    op = lambda s: temporal_enrich(
        s, key="custkey", ts="ts", id_col="o_orderkey",
        build_type="dimchange", probe_type="order", val_cols=("val",),
    )
    out_df = replay_stateful(
        spark, src, op, order_by=["ts", "o_orderkey"], file_of=F.col("b"),
    )
    assert dict(out_df.dtypes)["val"] == "bigint"
    out = {r["o_orderkey"]: r["val"] for r in out_df.collect()}
    assert out == {101: 5, 102: None, 103: 9}


def test_temporal_join_derives_types_from_input_schema(spark):
    """temporal_join's output/state types follow the INPUT schema (the
    r9 ADVICE nit: they were hardcoded long/double): a string key and
    an integer value column round-trip exactly — including a probe
    before any build, whose NULL build_value must serialize into the
    integer output column."""
    from datetime import datetime

    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import temporal_join

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    rows = [
        (1, t(0), "alice", "purchase", 9, 0),  # probe before any build
        (2, t(1), "alice", "click", 7, 0),
        (3, t(2), "alice", "purchase", 1, 1),  # -> (t1, 7) via carried state
        (4, t(1), "bob", "click", 3, 0),
        (5, t(3), "bob", "purchase", 2, 1),    # -> (t1, 3)
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id string, "
        "event_type string, value long, b int",
    )
    out_df = replay_stateful(
        spark, src, temporal_join, order_by=["ts", "event_id"], file_of=F.col("b"),
    )
    assert dict(out_df.dtypes)["user_id"] == "string"
    assert dict(out_df.dtypes)["build_value"] == "bigint"
    out = {
        r["event_id"]: (r["user_id"], r["build_ts"], r["build_value"])
        for r in out_df.collect()
    }
    assert out == {
        1: ("alice", None, None),
        3: ("alice", t(1), 7),
        5: ("bob", t(1), 3),
    }


def test_hll_sketch_app_max_merges_to_batch_grid_and_survives_retry(spark, tmp_path):
    """The streaming HLL app's two contracts, on the CMS test's exact
    shape: (a) MAX-MERGEABILITY — the per-epoch register grids
    max-merged equal the one-shot batch grid bit-for-bit; (b) the
    epoch-overwrite crash rule — a dead batch attempt that left a
    POISONED grid (rho 33 in every register, which MAX-merge would
    otherwise keep forever and crater every estimate) is REWRITTEN on
    restart, so the recovered sketch still equals the uninterrupted
    one. (A merely DUPLICATED honest epoch is harmless under MAX —
    idempotence — which is exactly why the poison, not the
    double-count, is this family's failure mode.)"""
    import shutil

    from gmall_flink_0526_spark.operators.aggregates import HLL_M, hll_registers

    ev = load_tables(spark, SF_SMOKE, "events")["events"]
    stream_in = ev.select("event_id", "ts", "event_type")
    schema = "event_id long, ts timestamp, event_type string"
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register("ods_events", schema=schema)
    write_replay(
        stream_in, reg.channels["ods_events"].path, n_files=3,
        order_by=["event_id"], file_of=F.col("event_id") % 3,
    )

    # hide batch 2's file; run epochs 0-1 to completion
    src_path = reg.channels["ods_events"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.hll_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q.processAllAvailable()
    q.stop()

    # dead batch-2 attempt: poisoned grid written (saturated registers),
    # checkpoint not committed
    spark.createDataFrame(
        [("view", j, 33) for j in range(HLL_M)], "event_type string, j long, r int"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "store" / "hll_regs" / "epoch=2")
    )

    # reveal the file, restart from the same checkpoint: epoch 2 must
    # rewrite its directory
    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.hll_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q2.processAllAvailable()
    q2.stop()

    exp = {
        (r["event_type"], r["j"]): r["r"]
        for r in hll_registers(ev, "event_type", "event_id").collect()
    }
    got = {
        (r["event_type"], r["j"]): r["r"]
        for r in pipelines.merged_store(
            spark, str(tmp_path / "store"), "hll_regs"
        ).collect()
    }
    assert got == exp  # poison gone, max-merge equals the batch grid


def test_transition_pairs_cross_batch_boundary(spark):
    """transition_pairs' load-bearing edge: a transition whose two
    events straddle a micro-batch boundary must be emitted exactly
    once, by the batch that sees the second event — a batch-local
    lead()/lag() inside foreachBatch would silently drop it. Also:
    a key's very first event emits nothing, single-event batches
    chain through the carry, and the NULL rule mirrors the batch
    lead() filter exactly — (x -> NULL) dropped, (NULL -> x) kept
    with a NULL src, INCLUDING when the NULL event sits on the batch
    boundary (the carry must store a NULL type distinctly from
    no-state)."""
    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import transition_pairs

    def T(sec):
        return f"2024-01-01 00:00:{sec:02d}"

    # users 1-4 share one state bucket
    uid = dict(zip((1, 2, 3, 4), same_bucket_keys(spark, 4)))

    rows = [
        # user 1: a->b inside batch 0, b->c STRADDLING the boundary,
        # c->d inside batch 1
        (101, T(1), 1, "a", 0),
        (102, T(2), 1, "b", 0),
        (103, T(3), 1, "c", 1),
        (104, T(4), 1, "d", 1),
        # user 2: one event per batch — the ONLY pair is cross-batch
        (201, T(1), 2, "x", 0),
        (202, T(5), 2, "y", 1),
        # user 3: single event ever -> no pairs
        (301, T(2), 3, "z", 0),
        # user 4: NULL type ON the batch boundary — (p -> NULL) must
        # drop and (NULL -> q) must emit with NULL src in batch 1
        (401, T(1), 4, "p", 0),
        (402, T(2), 4, None, 0),
        (403, T(3), 4, "q", 1),
    ]
    src = spark.createDataFrame(
        [(e, t, uid[u], y, b) for e, t, u, y, b in rows],
        "event_id long, ts_s string, user_id long, event_type string, b int",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "b"
    )
    got = sorted(
        (r["user_id"], r["src"], r["dst"])
        for r in replay_stateful(
            spark, src, transition_pairs, order_by=["ts", "event_id"],
            file_of=F.col("b"), n_files=2,
        ).collect()
    )
    assert got == sorted(
        [
            (uid[1], "a", "b"),
            (uid[1], "b", "c"),
            (uid[1], "c", "d"),
            (uid[2], "x", "y"),
            (uid[4], None, "q"),
        ]
    )


def test_funnel_chain_n_four_stage_cross_batch_edges(spark):
    """funnel_chain_n at M=3 (signup -> view -> click -> purchase):
    the 3-stage edge hazards, re-pinned at the DEEPER levels the
    generalization added:

    - STORED CHAIN: user 1's click@3 bound view@2 which bound
      signup@1; newer signup@4 and view@5 then land in state. A
      purchase@6 in the NEXT batch must read (3, 2, 1) — recomputing
      any link from seeded state would steal the newer events.
    - MIDDLE NULL: user 2's view had no signup; the click binds that
      view (signup NULL); a later signup must not retro-attach
      through the stored chain, but a NEW view after it picks it up.
    - Same-instant 4-chain: user 3's four stages at one ts resolve
      fully (inclusive backward at every link).
    """
    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import funnel_chain_n

    def T(sec):
        return f"2024-01-01 00:00:{sec:02d}"

    # users 1-3 share one state bucket
    uid = dict(zip((1, 2, 3), same_bucket_keys(spark, 3)))

    rows = [
        (101, T(1), 1, "signup", 0),
        (102, T(2), 1, "view", 0),
        (103, T(3), 1, "click", 0),
        (104, T(4), 1, "signup", 0),
        (105, T(5), 1, "view", 0),
        (106, T(6), 1, "purchase", 1),
        (201, T(1), 2, "view", 0),
        (202, T(2), 2, "click", 0),
        (203, T(3), 2, "purchase", 0),
        (204, T(4), 2, "signup", 0),
        (205, T(5), 2, "purchase", 1),   # still the old chain: signup NULL
        (206, T(6), 2, "view", 1),
        (207, T(7), 2, "click", 1),
        (208, T(8), 2, "purchase", 1),   # new view after signup binds it
        (301, T(7), 3, "signup", 1),
        (302, T(7), 3, "view", 1),
        (303, T(7), 3, "click", 1),
        (304, T(7), 3, "purchase", 1),
    ]
    src = spark.createDataFrame(
        [(e, t, uid[u], y, b) for e, t, u, y, b in rows],
        "event_id long, ts_s string, user_id long, event_type string, b int",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "b"
    )
    out = {
        r["event_id"]: (r["click_ts"], r["view_ts"], r["signup_ts"])
        for r in replay_stateful(
            spark,
            src,
            lambda df: funnel_chain_n(
                df, stages=("signup", "view", "click"), probe_type="purchase"
            ),
            order_by=["ts", "event_id"],
            file_of=F.col("b"),
            n_files=2,
        ).collect()
    }

    def ts(sec):
        import datetime

        return datetime.datetime(2024, 1, 1, 0, 0, sec)

    assert out[106] == (ts(3), ts(2), ts(1))  # stored chain, not state's 4/5
    assert out[203] == (ts(2), ts(1), None)   # middle NULL preserved
    assert out[205] == (ts(2), ts(1), None)   # signup@4 must not retro-attach
    assert out[208] == (ts(7), ts(6), ts(4))  # fresh view binds the signup
    assert out[304] == (ts(7), ts(7), ts(7))  # same-instant full chain


def test_substring_dedup_app_recovers_from_poisoned_epoch(spark, tmp_path):
    """substring_dedup_app's crash contract: a batch attempt that died
    after writing a poisoned output + window-index epoch but BEFORE the
    checkpoint commit is fully rewritten on restart — and because the
    index merge is MIN/MAX (idempotent), the recovered run's cut rows
    equal an uninterrupted run's exactly, poison rows gone."""
    import shutil

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = docs.select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    schema = "doc_id long, ts timestamp, text string"
    split = F.col("doc_id") % 2

    def run_all(root):
        r = ChannelRegistry(str(root))
        r.register("ods_documents", schema=schema)
        write_replay(
            stream_in, r.channels["ods_documents"].path, n_files=2,
            order_by=["doc_id"], file_of=split,
        )
        r.register("dwd_documents_cut")
        return r

    def rows_of(reg):
        return {
            (r.doc_id, r.n_tokens, r.n_removed, r.n_spans, r.cut_hash)
            for r in spark.read.parquet(reg.channels["dwd_documents_cut"].path)
            .select("doc_id", "n_tokens", "n_removed", "n_spans", "cut_hash")
            .collect()
        }

    regA = run_all(tmp_path / "A")
    qa = pipelines.substring_dedup_app(
        spark, regA, str(tmp_path / "A" / "ckpt"), str(tmp_path / "A" / "store")
    )
    qa.processAllAvailable()
    qa.stop()
    baseline = rows_of(regA)

    # crashed run: hide epoch 1's file, run epoch 0, poison epoch=1
    regB = run_all(tmp_path / "B")
    src_path = regB.channels["ods_documents"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    qb = pipelines.substring_dedup_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), str(tmp_path / "B" / "store")
    )
    qb.processAllAvailable()
    qb.stop()
    out_path = regB.channels["dwd_documents_cut"].path
    spark.createDataFrame(
        [(999_999, 1, 1, 1, "poison")],
        "doc_id long, n_tokens int, n_removed int, n_spans int, cut_hash string",
    ).write.mode("overwrite").parquet(os.path.join(out_path, "epoch=1"))
    spark.createDataFrame(
        [("deadbeefdeadbeef", 999_999, 999_999)], "gh string, lo long, hi long"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "B" / "store" / "win_index" / "epoch=1")
    )

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    qb2 = pipelines.substring_dedup_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), str(tmp_path / "B" / "store")
    )
    qb2.processAllAvailable()
    qb2.stop()

    got = rows_of(regB)
    assert not any(r[0] == 999_999 for r in got)
    idx = spark.read.parquet(str(tmp_path / "B" / "store" / "win_index"))
    assert idx.filter(F.col("gh") == "deadbeefdeadbeef").count() == 0
    assert got == baseline


def test_compactor_collapses_mergeable_stores(spark, tmp_path):
    """Sketch-class epoch stores compact through their OWN merge,
    looked up by sub name: the substring window index (min/max) and a
    CMS-style sum grid collapse to one row per cell, readers see identical
    merged values before and after, and the compacted base rides the
    usual negative-generation epoch id."""
    import os

    # window index: 3 epochs with overlapping gh cells
    idx = str(tmp_path / "store" / "win_index")
    rows = {
        0: [("g1", 5, 5), ("g2", 7, 7)],
        1: [("g1", 9, 9), ("g3", 1, 4)],
        2: [("g2", 2, 2)],
    }
    for ep, rs in rows.items():
        spark.createDataFrame(rs, "gh string, lo long, hi long").write.mode(
            "overwrite"
        ).parquet(os.path.join(idx, f"epoch={ep}"))

    def merged_idx():
        return {
            (r.gh, r.lo, r.hi)
            for r in spark.read.parquet(idx)
            .groupBy("gh")
            .agg(F.min("lo").alias("lo"), F.max("hi").alias("hi"))
            .collect()
        }

    before = merged_idx()
    pipelines.compact_signature_store(
        spark,
        str(tmp_path / "store"),
        upto_epoch=1,
        subs=("win_index",),
    )
    assert merged_idx() == before  # reader-visible merge unchanged
    gens = sorted(
        r.epoch for r in spark.read.parquet(idx).select("epoch").distinct().collect()
    )
    assert gens == [-1, 2]  # epochs 0,1 folded into one base generation
    base = spark.read.parquet(os.path.join(idx, "epoch=-1"))
    assert base.count() == base.select("gh").distinct().count()  # 1 row/cell

    # sum-grid store: additive merge must compact to summed cells
    grid = str(tmp_path / "store2" / "cms_grid")
    for ep, rs in {0: [(0, 1, 3), (0, 2, 1)], 1: [(0, 1, 2)]}.items():
        spark.createDataFrame(rs, "i int, b int, ct long").write.mode(
            "overwrite"
        ).parquet(os.path.join(grid, f"epoch={ep}"))
    pipelines.compact_signature_store(
        spark,
        str(tmp_path / "store2"),
        upto_epoch=1,
        subs=("cms_grid",),
    )
    got = {
        (r.i, r.b): r.ct
        for r in spark.read.parquet(grid).groupBy("i", "b").agg(
            F.sum("ct").alias("ct")
        ).collect()
    }
    assert got == {(0, 1): 5, (0, 2): 1}


def test_compactor_crash_after_rename_never_double_counts_additive(spark, tmp_path):
    """The ADDITIVE-merge crash contract (r12 advice, medium): the
    compaction commit point is the rename of the new base generation —
    whose ``_superseded.json`` manifest names the epochs it merged —
    NOT the post-rename deletes. Simulate the worst crash window (base
    committed, merged epoch dirs still on disk): readers must not
    double-count a SUM-family cell, and the NEXT compaction must sweep
    the orphans and keep the totals exact."""
    import os

    grid = str(tmp_path / "store" / "cms_grid")
    eps = {0: [(0, 1, 3), (0, 2, 1)], 1: [(0, 1, 2)], 2: [(0, 1, 7)]}

    def write_epoch(ep):
        spark.createDataFrame(eps[ep], "i int, b int, ct long").write.mode(
            "overwrite"
        ).parquet(os.path.join(grid, f"epoch={ep}"))

    def totals():
        return {
            (r.i, r.b): r.ct
            for r in pipelines.read_store(spark, grid)
            .groupBy("i", "b")
            .agg(F.sum("ct").alias("ct"))
            .collect()
        }

    for ep in (0, 1, 2):
        write_epoch(ep)
    want = {(0, 1): 12, (0, 2): 1}
    assert totals() == want
    pipelines.compact_signature_store(
        spark, str(tmp_path / "store"), upto_epoch=1, subs=("cms_grid",),
    )
    # crash simulation: resurrect the merged epoch dirs as if the
    # post-rename deletes never ran
    for ep in (0, 1):
        write_epoch(ep)
    sup = pipelines.superseded_epochs(spark, grid)
    assert sup == {0, 1}
    assert totals() == want  # manifest exclusion: no double count
    # next compaction finishes the sweep and folds base + epoch 2
    pipelines.compact_signature_store(
        spark, str(tmp_path / "store"), upto_epoch=2, subs=("cms_grid",),
    )
    gens = sorted(
        r.epoch
        for r in spark.read.parquet(grid).select("epoch").distinct().collect()
    )
    assert gens == [-2]
    assert totals() == want
    # the epoch-pruned incremental read honors the exclusion too
    assert {
        (r.i, r.b, r.ct)
        for r in pipelines.read_epoch_store(spark, grid, epoch_id=99).collect()
    } == {(0, 1, 12), (0, 2, 1)}


# every mergeable epoch store: its schema, and one row of cell ``c``
# holding the partial value ``v`` (the test runs over every
# STORE_MERGES entry, so a new entry without a case here fails)
_MERGE_CASES = {
    "cms_grid": ("i int, b int, ct long", lambda c, v: (0, c, v)),
    "hist_grid": ("event_type string, b int, ct long", lambda c, v: ("click", c, v)),
    "dsir_grid": ("b long, ct long", lambda c, v: (c, v)),
    "lm_grams": ("w1 string, g string, ct long", lambda c, v: ("a", f"a b{c}", v)),
    "roll_grid": (
        "event_type string, h timestamp, ct long, vsum decimal(38,6)",
        lambda c, v: ("view", datetime.datetime(2024, 1, 1, c), v, decimal.Decimal(v) / 4),
    ),
    "grid": ("lang string, total_ct long, kept_ct long", lambda c, v: (f"l{c}", v, v - 1)),
    "bloom_words": ("w long, bits long", lambda c, v: (c, v)),
    "hll_regs": ("event_type string, j long, r int", lambda c, v: ("click", c, v)),
    "win_index": ("gh string, lo long, hi long", lambda c, v: (f"g{c}", v, v + c)),
}


@pytest.mark.parametrize("sub", list(pipelines.STORE_MERGES))
def test_compaction_folds_every_store_through_its_merge(spark, tmp_path, sub):
    """Compacting any mergeable store, with no merge argument, folds it
    through the store's own merge. Epochs 0 and 1 hold an identical
    partial row, which a ``distinct()`` fold would collapse: an
    additive store would then undercount. The live view, the store
    schema and the folded view's schema are unchanged, and the base
    generation -1 holds one row per cell."""
    schema, row = _MERGE_CASES[sub]
    keys, _aggs = pipelines.STORE_MERGES[sub]
    path = str(tmp_path / "store" / sub)
    epochs = {0: [row(1, 3), row(2, 1)], 1: [row(1, 3)], 2: [row(1, 5), row(3, 2)]}
    spark.createDataFrame(
        [(*r, ep) for ep, rows in epochs.items() for r in rows], f"{schema}, epoch int"
    ).write.partitionBy("epoch").parquet(path)

    def live():
        df = pipelines.merged_store(spark, str(tmp_path / "store"), sub)
        return df.schema, sorted(df.collect())

    before, store_schema = live(), spark.read.parquet(path).schema
    pipelines.compact_signature_store(spark, str(tmp_path / "store"), upto_epoch=2, subs=(sub,))
    assert live() == before
    assert spark.read.parquet(path).schema == store_schema
    assert [d for d in os.listdir(path) if d.startswith("epoch=")] == ["epoch=-1"]
    base = spark.read.parquet(os.path.join(path, "epoch=-1")).collect()
    assert len(base) == len({tuple(r[k] for k in keys) for r in base}) == 3


def test_seed_concat_keeps_ids_exact_above_2_53(spark):
    """The r12-advice id-exactness contract: a state-seed concat must
    not widen the int64 id column to float64 — a probe id >= 2^53
    would silently round through the float trip. Drive funnel_chain
    and temporal_join across two batches (so batch 2's frames concat
    against a real state seed) with ids around 2^53 + odd offsets
    that float64 CANNOT represent, and assert they come back exact."""
    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import funnel_chain, temporal_join

    BIG = (1 << 53) + 1  # first integer float64 cannot represent
    rows = [
        (BIG, "2024-01-01 00:00:01", 1, "view", 0),
        (BIG + 2, "2024-01-01 00:00:02", 1, "click", 0),
        (BIG + 4, "2024-01-01 00:00:05", 1, "purchase", 1),
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, b int"
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "b"
    )
    got = {
        r["event_id"]
        for r in replay_stateful(
            spark, src, funnel_chain, order_by=["ts", "event_id"],
            file_of=F.col("b"), n_files=2,
        ).collect()
    }
    assert got == {BIG + 4}

    jrows = [
        (BIG, "2024-01-01 00:00:01", 1, "build", 7, 0),
        (BIG + 2, "2024-01-01 00:00:03", 1, "probe", 0, 1),
    ]
    jsrc = spark.createDataFrame(
        jrows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value long, b int",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", "b",
    )
    jout = replay_stateful(
        spark, jsrc,
        lambda s: temporal_join(s, key="user_id", build_type="build",
                                probe_type="probe", value_col="value"),
        order_by=["ts", "event_id"], file_of=F.col("b"), n_files=2,
    ).collect()
    assert {r["event_id"] for r in jout} == {BIG + 2}
    assert jout[0]["build_value"] == 7


def test_lm_counts_app_sums_to_batch_model_and_survives_retry(spark, tmp_path):
    """The streaming LM-fit app's two contracts (the sketch family's
    model-fit member, same shape as the CMS/Bloom/HLL tests): (a)
    ADDITIVITY — per-epoch bigram-count grids summed, prefix totals
    derived from the merge, and token sets distinct'd equal the
    one-shot batch fit bit-for-bit (all-integer arithmetic); (b) the
    epoch-overwrite crash rule — a dead batch attempt's poisoned grid
    (a forged high-count bigram that would otherwise deflate real
    surprisals forever) is rewritten on restart, so the recovered
    model still equals the uninterrupted one."""
    import shutil

    from gmall_flink_0526_spark.operators import lm, textops
    from gmall_flink_0526_spark.operators.partitioning import spread

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = spread(docs, "doc_id").select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
    )
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register("ods_documents", schema="doc_id long, ts timestamp, text string")
    write_replay(
        stream_in, reg.channels["ods_documents"].path, n_files=3,
        order_by=["doc_id"], file_of=F.col("doc_id") % 3,
    )

    # hide batch 2's file; run epochs 0-1 to completion
    src_path = reg.channels["ods_documents"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.lm_counts_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q.processAllAvailable()
    q.stop()

    # dead batch-2 attempt: poisoned grids written, checkpoint not committed
    spark.createDataFrame(
        [("the", "the poisoned", 10_000_000)], "w1 string, g string, ct long"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "store" / "lm_grams" / "epoch=2")
    )
    spark.createDataFrame([("poisontok",)], "tok string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "store" / "lm_toks" / "epoch=2"))

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.lm_counts_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q2.processAllAvailable()
    q2.stop()

    staged = textops.with_tokens(docs)
    batch_model = lm.bigram_model(lm.doc_bigrams(staged), lm.vocab_size(staged))
    exp = {
        (r["g"], r["c2"], r["c1"], r["v"], r["s"]) for r in batch_model.collect()
    }
    got = {
        (r["g"], r["c2"], r["c1"], r["v"], r["s"])
        for r in pipelines.merged_lm_model(spark, str(tmp_path / "store")).collect()
    }
    assert got == exp  # poison gone, additive merge equals the batch fit


def test_events_rollup_app_sums_to_batch_rollup_and_survives_retry(spark, tmp_path):
    """The streaming continuous-aggregate app's two contracts: (a)
    ADDITIVITY — per-epoch (entity, hour) grids merge to the one-shot
    batch rollup bit-for-bit, including the DOUBLE value sums, because
    the per-epoch sums are stored as decimals and only the merged
    total is cast (decimal addition is exact and associative); (b) the
    epoch-overwrite crash rule — a dead batch attempt's poisoned grid
    is rewritten on restart."""
    import shutil

    from decimal import Decimal

    from gmall_flink_0526_spark.functions.exact import exact_sum
    from gmall_flink_0526_spark.operators.partitioning import spread

    ev = load_tables(spark, SF_SMOKE, "events")["events"]
    stream_in = spread(ev, "event_id").select("event_id", "ts", "event_type", "value")
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register(
        "ods_events",
        schema="event_id long, ts timestamp, event_type string, value double",
    )
    write_replay(
        stream_in, reg.channels["ods_events"].path, n_files=3,
        order_by=["event_id"], file_of=F.col("event_id") % 3,
    )

    src_path = reg.channels["ods_events"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.events_rollup_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q.processAllAvailable()
    q.stop()

    # dead batch-2 attempt: poisoned grid written, checkpoint not committed
    spark.createDataFrame(
        [("poison", None, 10_000, Decimal("9999.000000"))],
        "event_type string, h timestamp, ct long, vsum decimal(30,6)",
    ).write.mode("overwrite").parquet(
        str(tmp_path / "store" / "roll_grid" / "epoch=2")
    )

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.events_rollup_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q2.processAllAvailable()
    q2.stop()

    batch = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("ct"), exact_sum(F.col("value")).alias("value_sum"))
    exp = {
        (r["event_type"], r["h"], r["ct"], r["value_sum"]) for r in batch.collect()
    }
    got = {
        (r["event_type"], r["h"], r["ct"], r["value_sum"])
        for r in pipelines.merged_events_rollup(
            spark, str(tmp_path / "store")
        ).collect()
    }
    assert got == exp  # poison gone, decimal merge equals the batch rollup


def test_similarity_graph_layouts_identical_and_marker_sticks(spark, reg, tmp_path):
    """The size-gated shingle-store layout (r14: bucketed writes cost
    2x the whole replay at small scale) must be invisible to the
    graph: forced-bucketed and forced-flat runs over the same 2-epoch
    replay reconstruct identical pair stores, the auto gate picks
    flat for a small first batch, and the _SH_LAYOUT marker persists
    the choice for the store's whole life."""
    import os

    from gmall_flink_0526_spark.sources import fs as hfs

    docs = (
        load_tables(spark, SF_SMOKE, "documents")["documents"]
        .select("doc_id", "text")
        .limit(300)
    )

    def run(root, **kw):
        r = ChannelRegistry(str(root))
        r.register("ods_documents", schema="doc_id long, text string")
        write_replay(
            docs, r.channels["ods_documents"].path, n_files=2,
            order_by=["doc_id"], file_of=F.col("doc_id") % 2,
        )
        q = pipelines.similarity_graph_app(
            spark, r, str(root / "ckpt"), str(root / "store"), **kw
        )
        q.processAllAvailable()
        q.stop()
        return {
            tuple(r0)
            for r0 in spark.read.parquet(str(root / "store" / "pairs"))
            .select("doc_a", "doc_b")
            .collect()
        }

    flat = run(tmp_path / "flat", bucket_layout=False)
    bucketed = run(tmp_path / "bkt", bucket_layout=True)
    auto = run(tmp_path / "auto")  # 150-doc first batch << threshold
    assert flat == bucketed == auto
    # the bucketed store really is bucket-partitioned; the flat one is not
    sh_epoch = str(tmp_path / "bkt" / "store" / "sh" / "epoch=1")
    assert any(n.startswith("bkt=") for n in os.listdir(sh_epoch))
    flat_epoch = str(tmp_path / "flat" / "store" / "sh" / "epoch=1")
    assert not any(n.startswith("bkt=") for n in os.listdir(flat_epoch))
    # auto picked flat and persisted the decision
    assert hfs.read_text(
        spark, str(tmp_path / "auto" / "store" / "_SH_LAYOUT")
    ).strip() == "flat"
    assert hfs.read_text(
        spark, str(tmp_path / "bkt" / "store" / "_SH_LAYOUT")
    ).strip() == "bucketed"


def test_similarity_graph_infers_layout_when_marker_missing(spark, tmp_path):
    """A pre-marker (or marker-lost) BUCKETED store resumed with a
    small batch must stay bucketed: the auto gate infers the layout
    from the existing epoch directory structure instead of the
    current batch's count (ADVICE r14 — mixing flat and
    bkt-partitioned epoch dirs under one sh/ root breaks
    read_epoch_store's partition discovery), and rewrites the marker
    atomically."""
    import os

    from gmall_flink_0526_spark.sources import fs as hfs

    docs = (
        load_tables(spark, SF_SMOKE, "documents")["documents"]
        .select("doc_id", "text")
        .limit(200)
    )
    r = ChannelRegistry(str(tmp_path))
    r.register("ods_documents", schema="doc_id long, text string")
    write_replay(
        docs.filter(F.col("doc_id") % 2 == 0),
        r.channels["ods_documents"].path,
        n_files=1,
        order_by=["doc_id"],
    )
    store = str(tmp_path / "store")
    q = pipelines.similarity_graph_app(
        spark, r, str(tmp_path / "ckpt"), store, bucket_layout=True
    )
    q.processAllAvailable()
    q.stop()
    marker = os.path.join(store, "_SH_LAYOUT")
    os.remove(marker)  # simulate a pre-marker store
    # second delivery: a small batch that, by count alone, would gate flat
    write_replay(
        docs.filter(F.col("doc_id") % 2 == 1),
        r.channels["ods_documents"].path,
        n_files=1,
        order_by=["doc_id"],
    )
    q2 = pipelines.similarity_graph_app(
        spark, r, str(tmp_path / "ckpt"), store
    )
    q2.processAllAvailable()
    q2.stop()
    assert hfs.read_text(spark, marker).strip() == "bucketed"
    # every epoch dir shares the bucketed layout — none went flat
    sh = os.path.join(store, "sh")
    epochs = [n for n in os.listdir(sh) if n.startswith("epoch=")]
    assert len(epochs) >= 2
    for e in epochs:
        children = os.listdir(os.path.join(sh, e))
        assert any(n.startswith("bkt=") for n in children), e


def _recommit_last_epoch(ckpt_dir: str) -> int:
    """Simulate crash-AFTER-sink-write-but-BEFORE-checkpoint-commit —
    the duplicate-delivery case the poison-epoch tests do NOT cover
    (they crash before any commit). Deleting commits/<last> while
    keeping offsets/<last> makes the restarted query re-execute that
    batch with the SAME epoch id, i.e. the sinks see the
    already-committed micro-batch a second time."""
    commits = os.path.join(ckpt_dir, "commits")
    last = max(
        int(f) for f in os.listdir(commits) if not f.startswith(".")
    )
    os.remove(os.path.join(commits, str(last)))
    # drop the Hadoop local-fs checksum sidecar too, or the restarted
    # query's atomic re-create trips over the stale CRC and aborts as
    # a concurrent-modification
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return last


def test_base_db_duplicate_delivery_dim_invariant_fact_deduped_downstream(
    spark, reg, tmp_path
):
    """X5 effectively-once, TESTED (r13 VERDICT #3): redeliver
    base_db_app's last committed micro-batch. The dim store must be
    bit-unchanged (MERGE idempotent by pk); the fact channel — Kafka
    semantics, append-only — gains duplicate messages (the documented
    at-least-once delta), and the downstream idempotent consumer
    (dedup by message value, the MERGE-by-pk class) erases them."""
    orders = load_tables(spark, SF_SMOKE, "orders")["orders"]
    _order_cdc_replay(spark, reg, orders)
    config = spark.createDataFrame(_ORDER_ROUTES, _TABLE_PROCESS)
    store = DimStore(str(tmp_path / "dims"))
    q = pipelines.base_db_app(spark, reg, store, config, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    dim_before = {
        tuple(r) for r in store.read(spark, "dim_order_info").collect()
    }
    fact_before = reg.read_batch(spark, "dwd_fact_log").count()
    dedup_before = (
        reg.read_batch(spark, "dwd_fact_log").select("topic", "value").distinct().count()
    )

    _recommit_last_epoch(str(tmp_path / "ckpt" / "base_db_app"))
    q2 = pipelines.base_db_app(spark, reg, store, config, str(tmp_path / "ckpt"))
    q2.processAllAvailable()
    q2.stop()

    # dim MERGE by pk: re-merging identical rows is a no-op
    dim_after = {tuple(r) for r in store.read(spark, "dim_order_info").collect()}
    assert dim_after == dim_before
    # fact channel is at-least-once: the redelivered epoch's messages
    # really are appended twice...
    fact_after = reg.read_batch(spark, "dwd_fact_log").count()
    assert fact_after > fact_before
    # ...and the downstream idempotent consumer is invariant
    dedup_after = (
        reg.read_batch(spark, "dwd_fact_log").select("topic", "value").distinct().count()
    )
    assert dedup_after == dedup_before


def test_cms_app_duplicate_delivery_no_double_count(spark, tmp_path):
    """Epoch-store half of the effectively-once contract: redelivering
    an already-committed micro-batch re-runs it with the SAME epoch
    id, the overwrite-own-epoch rule rewrites (not appends) that
    epoch's grid, and the merged sketch is bit-unchanged."""
    from gmall_flink_0526_spark.operators.aggregates import cms_counters
    from gmall_flink_0526_spark.operators.textops import tokenize

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"].select(
        "doc_id", "text"
    )
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register("ods_documents", schema="doc_id long, text string")
    write_replay(
        docs, reg.channels["ods_documents"].path, n_files=3,
        order_by=["doc_id"], file_of=F.col("doc_id") % 3,
    )
    q = pipelines.cms_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q.processAllAvailable()
    q.stop()

    grid = lambda: {  # noqa: E731
        (r["i"], r["b"]): r["ct"]
        for r in pipelines.merged_store(spark, str(tmp_path / "store"), "cms_grid").collect()
    }
    before = grid()
    n_epochs_before = len(
        [d for d in os.listdir(str(tmp_path / "store" / "cms_grid")) if d.startswith("epoch=")]
    )

    _recommit_last_epoch(str(tmp_path / "ckpt" / "cms_sketch"))
    q2 = pipelines.cms_sketch_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q2.processAllAvailable()
    q2.stop()

    assert grid() == before  # overwrite-own-epoch: no double count
    n_epochs_after = len(
        [d for d in os.listdir(str(tmp_path / "store" / "cms_grid")) if d.startswith("epoch=")]
    )
    assert n_epochs_after == n_epochs_before
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    exp = {(r["i"], r["b"]): r["ct"] for r in cms_counters(toks, "tok").collect()}
    assert grid() == exp  # and still the exact batch sketch


def test_dim_schema_evolution_widens_store_in_place(spark):
    """K4 extend (r13 VERDICT #5): the certified replay query runs the
    real base_db_app across a mid-stream table_process update adding
    o_orderstatus — rows merged before the update must read NULL in
    the added column, rows after must carry it."""
    from gmall_flink_0526_spark import plans

    df = plans.queries()["dim_schema_evolution"](spark, SF_SMOKE)
    rows = df.collect()
    assert set(df.columns) == {"o_orderkey", "o_totalprice", "o_orderstatus"}
    evens = [r for r in rows if r.o_orderkey % 2 == 0]
    odds = [r for r in rows if r.o_orderkey % 2 == 1]
    assert evens and odds  # both config generations wrote rows
    assert all(r.o_orderstatus is None for r in evens)
    assert all(r.o_orderstatus is not None for r in odds)


def _decon_train_replay(spark, root):
    """Id-ordered 3-batch train replay + static eval side for the
    decon screen app, split by explicit vec_id ranges so epoch
    membership is deterministic across runs."""
    from gmall_flink_0526_spark.plans.llmprep import EVAL_MOD

    emb = load_tables(spark, SF_SMOKE, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    train = emb.filter(F.col("vec_id") % EVAL_MOD != 0)
    ev = emb.filter(F.col("vec_id") % EVAL_MOD == 0)
    reg = ChannelRegistry(str(root))
    reg.register("ods_embeddings", schema="vec_id long, embedding array<float>")
    write_replay(
        train, reg.channels["ods_embeddings"].path, n_files=3,
        order_by=["vec_id"],
        file_of=F.when(F.col("vec_id") < 167, 0)
        .when(F.col("vec_id") < 333, 1)
        .otherwise(2),
    )
    return reg, train, ev


def _decon_flags(spark, store):
    return {
        (r["vec_id"], r["eid"], r["cos_sim"])
        for r in spark.read.parquet(os.path.join(store, "flags"))
        .select("vec_id", "eid", "cos_sim")
        .collect()
    }


def test_decon_screen_app_poison_epoch_and_batch_parity(spark, tmp_path):
    """decon_screen_app's crash contract: an attempt of the FIT epoch
    that died after writing poisoned flag/stash epochs but BEFORE the
    checkpoint commit is fully rewritten on restart — the
    deterministic refit plus overwrite-own-epoch scrubs the poison —
    and the recovered flag store equals the BATCH screen's hit set
    exactly (the per-row-independence claim, checked in-process on
    the raw pair level, finer than the driver's aggregated row)."""
    import shutil

    from gmall_flink_0526_spark.plans.similarity import corpus_decon_semantic_hits

    regA, train, ev = _decon_train_replay(spark, tmp_path / "A")
    n_train = train.count()
    qa = pipelines.decon_screen_app(
        spark, regA, str(tmp_path / "A" / "ckpt"), str(tmp_path / "A" / "store"),
        eval_df=ev, expected_train=n_train,
    )
    qa.processAllAvailable()
    qa.stop()
    baseline = _decon_flags(spark, str(tmp_path / "A" / "store"))
    batch_hits = {
        (r["vec_id"], r["eid"], r["cos_sim"])
        for r in corpus_decon_semantic_hits(spark, SF_SMOKE).collect()
    }
    assert baseline == batch_hits and baseline  # non-empty, bit-equal

    # crashed run: hide the last file, run epochs 0-1 (stash only — the
    # fit target equals the train count at this SF, so the fit is the
    # LAST epoch), poison the fit epoch's dirs, restore, restart
    regB, _, evB = _decon_train_replay(spark, tmp_path / "B")
    src_path = regB.channels["ods_embeddings"].path
    files = sorted(
        (f for f in os.listdir(src_path)
         if f.endswith(".parquet") and not f.startswith((".", "_"))),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    store_b = str(tmp_path / "B" / "store")
    qb = pipelines.decon_screen_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), store_b,
        eval_df=evB, expected_train=n_train,
    )
    qb.processAllAvailable()
    qb.stop()
    assert not os.path.exists(os.path.join(store_b, "_FIT_EPOCH"))  # still stashing
    spark.createDataFrame(
        [(999_999, 999_999, 1.0)], "vec_id long, eid long, cos_sim double"
    ).write.mode("overwrite").parquet(os.path.join(store_b, "flags", "epoch=2"))
    spark.createDataFrame(
        [(999_999, [0.0] * 64)], "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(os.path.join(store_b, "stash", "epoch=2"))

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    qb2 = pipelines.decon_screen_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), store_b,
        eval_df=evB, expected_train=n_train,
    )
    qb2.processAllAvailable()
    qb2.stop()
    got = _decon_flags(spark, store_b)
    assert not any(v == 999_999 for v, _, _ in got)
    assert got == baseline
    # the poisoned stash epoch was scrubbed by the fit branch
    assert not os.path.exists(os.path.join(store_b, "stash", "epoch=2"))
    assert open(os.path.join(store_b, "_FIT_EPOCH")).read().strip() == "2"


def test_decon_screen_app_duplicate_delivery_fit_epoch(spark, tmp_path):
    """Redelivering the already-committed FIT epoch (checkpoint rewind,
    the r14 recipe) re-runs it with the same epoch id: the marker
    routes it to the redelivery path, the stored centroids stand in
    for the bit-equal refit, and the flag store is bit-unchanged."""
    regA, train, ev = _decon_train_replay(spark, tmp_path)
    store = str(tmp_path / "store")
    q = pipelines.decon_screen_app(
        spark, regA, str(tmp_path / "ckpt"), store,
        eval_df=ev, expected_train=train.count(),
    )
    q.processAllAvailable()
    q.stop()
    before = _decon_flags(spark, store)
    fit_ep = open(os.path.join(store, "_FIT_EPOCH")).read().strip()
    cents_before = {
        (r["c"], tuple(r["cv"]))
        for r in spark.read.parquet(os.path.join(store, "centroids")).collect()
    }

    last = _recommit_last_epoch(str(tmp_path / "ckpt" / "decon_screen"))
    assert str(last) == fit_ep  # the redelivered epoch IS the fit epoch
    q2 = pipelines.decon_screen_app(
        spark, regA, str(tmp_path / "ckpt"), store,
        eval_df=ev, expected_train=train.count(),
    )
    q2.processAllAvailable()
    q2.stop()
    assert _decon_flags(spark, store) == before
    assert open(os.path.join(store, "_FIT_EPOCH")).read().strip() == fit_ep
    cents_after = {
        (r["c"], tuple(r["cv"]))
        for r in spark.read.parquet(os.path.join(store, "centroids")).collect()
    }
    assert cents_after == cents_before


def test_decon_store_compacts_through_default_merge(spark, tmp_path):
    """The decon screen's stores are SET-like (a stash vector / flag
    row is a fact), so the shared compactor's default distinct() merge
    serves them unchanged: post-compaction the stash rows and the
    merged flag report are bit-identical and the multi-epoch stash
    collapses to one base generation (the layout a long pre-fit stream
    accumulates)."""
    regA, train, ev = _decon_train_replay(spark, tmp_path)
    store = str(tmp_path / "store")
    q = pipelines.decon_screen_app(
        spark, regA, str(tmp_path / "ckpt"), store,
        eval_df=ev, expected_train=train.count(),
    )
    q.processAllAvailable()
    q.stop()
    stash = os.path.join(store, "stash")
    assert len([d for d in os.listdir(stash) if d.startswith("epoch=")]) > 1
    rows_before = {
        r["vec_id"] for r in spark.read.parquet(stash).select("vec_id").collect()
    }
    flags_before = _decon_flags(spark, store)
    assert rows_before and flags_before
    pipelines.compact_signature_store(
        spark, store, upto_epoch=10, subs=("stash", "flags")
    )
    rows_after = {
        r["vec_id"]
        for r in pipelines.read_store(spark, stash).select("vec_id").collect()
    }
    assert rows_after == rows_before
    assert _decon_flags(spark, store) == flags_before
    stash_epochs = [d for d in os.listdir(stash) if d.startswith("epoch=")]
    assert len(stash_epochs) == 1 and stash_epochs[0].startswith("epoch=-")


def test_write_text_atomic_overwrites_existing_marker(spark, tmp_path):
    """The HDFS rename contract REFUSES an existing destination
    (returns false; POSIX renameTo overwrites, masking it locally) —
    write_text_atomic must therefore drop the old marker just before
    the rename, so marker REWRITES (the layout-gate recovery path,
    similarity_graph_app) self-heal on HDFS-like filesystems instead
    of crash-looping (r15 ADVICE). Contract: repeated writes to the
    same path succeed and the last value wins."""
    from gmall_flink_0526_spark.sources import fs as hfs

    p = str(tmp_path / "_MARKER")
    hfs.write_text_atomic(spark, p, "first")
    hfs.write_text_atomic(spark, p, "second")
    hfs.write_text_atomic(spark, p, "third")
    assert hfs.read_text(spark, p).strip() == "third"
    assert not hfs.exists(spark, p + "._tmp")  # temp never left behind


def test_dsir_grid_app_sums_to_batch_grid_and_survives_retry(spark, tmp_path):
    """The hashed-DSIR grid app's two contracts (the sketch family's
    corpus-size-free member): (a) ADDITIVITY — per-epoch fixed-width
    bucket grids summed equal the one-shot batch bucket count
    bit-for-bit (all-integer), so dsir_hashed_stream's scores are the
    batch estimator's exactly; (b) the epoch-overwrite crash rule — a
    dead batch attempt's poisoned grid (a forged hot bucket that would
    deflate every colliding gram's surprisal forever) is rewritten on
    restart."""
    import shutil

    from gmall_flink_0526_spark.operators import lm, textops
    from gmall_flink_0526_spark.operators.partitioning import spread

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"]
    stream_in = spread(docs, "doc_id").select(
        "doc_id",
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id"))
        ).alias("ts"),
        "text",
        "lang",
    )
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register(
        "ods_documents", schema="doc_id long, ts timestamp, text string, lang string"
    )
    write_replay(
        stream_in, reg.channels["ods_documents"].path, n_files=3,
        order_by=["doc_id"], file_of=F.col("doc_id") % 3,
    )

    src_path = reg.channels["ods_documents"].path
    files = sorted(
        (
            f
            for f in os.listdir(src_path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    q = pipelines.dsir_grid_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q.processAllAvailable()
    q.stop()

    # dead batch-2 attempt: poisoned grid written, checkpoint not committed
    spark.createDataFrame([(0, 10**9)], "b long, ct long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "store" / "dsir_grid" / "epoch=2"))

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    q2 = pipelines.dsir_grid_app(
        spark, reg, str(tmp_path / "ckpt"), str(tmp_path / "store")
    )
    q2.processAllAvailable()
    q2.stop()

    staged = textops.with_tokens(docs)
    batch_grid = (
        lm.doc_bigrams(staged)
        .select(lm.hash_bucket(F.col("g"), lm.DSIR_HASH_B).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
    )
    exp = {(r["b"], r["ct"]) for r in batch_grid.collect()}
    got = {
        (r["b"], r["ct"])
        for r in pipelines.merged_store(spark, str(tmp_path / "store"), "dsir_grid").collect()
    }
    assert got == exp  # poison gone, additive merge equals the batch grid
    assert len(got) <= lm.DSIR_HASH_B  # the model really is grid-bounded


def test_dsir_grid_app_duplicate_delivery_no_double_count(spark, tmp_path):
    """Epoch-store half of the effectively-once contract for the
    TARGET-filtered grid instance (covers the doc_filter admission
    path too): redelivering an already-committed micro-batch re-runs
    it with the SAME epoch id, the overwrite-own-epoch rule rewrites
    that epoch's grid, and the merged grid is bit-unchanged — still
    exactly the batch bucket count over the admitted documents."""
    from gmall_flink_0526_spark.operators import lm, textops
    from gmall_flink_0526_spark.plans.lmquality import DSIR_TARGET_LANG

    docs = load_tables(spark, SF_SMOKE, "documents")["documents"].select(
        "doc_id", "text", "lang"
    )
    reg = ChannelRegistry(str(tmp_path / "chan"))
    reg.register("ods_documents", schema="doc_id long, text string, lang string")
    write_replay(
        docs, reg.channels["ods_documents"].path, n_files=3,
        order_by=["doc_id"], file_of=F.col("doc_id") % 3,
    )
    q = pipelines.dsir_grid_app(
        spark,
        reg,
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
        doc_filter=F.col("lang") == DSIR_TARGET_LANG,
    )
    q.processAllAvailable()
    q.stop()

    grid = lambda: {  # noqa: E731
        (r["b"], r["ct"])
        for r in pipelines.merged_store(spark, str(tmp_path / "store"), "dsir_grid").collect()
    }
    before = grid()
    n_epochs_before = len(
        [
            d
            for d in os.listdir(str(tmp_path / "store" / "dsir_grid"))
            if d.startswith("epoch=")
        ]
    )

    _recommit_last_epoch(str(tmp_path / "ckpt" / "dsir_grid"))
    q2 = pipelines.dsir_grid_app(
        spark,
        reg,
        str(tmp_path / "ckpt"),
        str(tmp_path / "store"),
        doc_filter=F.col("lang") == DSIR_TARGET_LANG,
    )
    q2.processAllAvailable()
    q2.stop()

    assert grid() == before  # overwrite-own-epoch: no double count
    assert (
        len(
            [
                d
                for d in os.listdir(str(tmp_path / "store" / "dsir_grid"))
                if d.startswith("epoch=")
            ]
        )
        == n_epochs_before
    )
    staged = textops.with_tokens(docs.filter(F.col("lang") == DSIR_TARGET_LANG))
    exp = {
        (r["b"], r["ct"])
        for r in lm.doc_bigrams(staged)
        .select(lm.hash_bucket(F.col("g"), lm.DSIR_HASH_B).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("ct"))
        .collect()
    }
    assert grid() == exp  # and still the exact admitted-docs grid


def _triplet_replay(spark, root):
    """Id-ordered 3-batch replay of the FULL embedding corpus for the
    triplet mining app, split by explicit vec_id ranges so epoch
    membership is deterministic across runs."""
    emb = load_tables(spark, SF_SMOKE, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    n = emb.count()
    c1, c2 = n // 3, 2 * n // 3
    reg = ChannelRegistry(str(root))
    reg.register("ods_embeddings", schema="vec_id long, embedding array<float>")
    write_replay(
        emb, reg.channels["ods_embeddings"].path, n_files=3,
        order_by=["vec_id"],
        file_of=F.when(F.col("vec_id") < c1, 0)
        .when(F.col("vec_id") < c2, 1)
        .otherwise(2),
    )
    return reg, n


def _triplet_scored(spark, store):
    return {
        (r["qid"], r["cid"], r["cos_sim"])
        for r in spark.read.parquet(os.path.join(store, "scored"))
        .select("qid", "cid", "cos_sim")
        .collect()
    }


def _batch_scored(spark):
    """The batch query's candidate frame, rebuilt from the certified
    corpus-scoped IVF assignment — the raw-pair-level truth the
    accumulated epoch store must equal exactly."""
    from gmall_flink_0526_spark.operators import similarity as S
    from gmall_flink_0526_spark.plans.similarity import N_PROBES, ivf_assigned_cached

    assigned = ivf_assigned_cached(spark, SF_SMOKE)
    probes = assigned.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("c").alias("qlabel"),
    )
    scored = (
        assigned.select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cv"),
            F.col("c").alias("clabel"),
        )
        .join(F.broadcast(probes), F.col("clabel") == F.col("qlabel"))
        .filter(F.col("cid") != F.col("qid"))
        .withColumn("cos_sim", S.cosine(F.col("qv"), F.col("cv")))
    )
    return {
        (r["qid"], r["cid"], r["cos_sim"])
        for r in scored.select("qid", "cid", "cos_sim").collect()
    }


def test_triplet_mine_app_poison_epoch_and_batch_parity(spark, tmp_path):
    """triplet_mine_app's crash contract: an attempt of the FIT epoch
    that died after writing poisoned scored/stash epochs but BEFORE
    the checkpoint commit is fully rewritten on restart — the
    deterministic refit plus overwrite-own-epoch scrubs the poison —
    and the recovered candidate store equals the batch query's scored
    frame exactly (the per-row-independence claim at the raw pair
    level, finer than the driver's oracle row)."""
    import shutil

    regA, n = _triplet_replay(spark, tmp_path / "A")
    qa = pipelines.triplet_mine_app(
        spark, regA, str(tmp_path / "A" / "ckpt"), str(tmp_path / "A" / "store"),
        expected_corpus=n,
    )
    qa.processAllAvailable()
    qa.stop()
    baseline = _triplet_scored(spark, str(tmp_path / "A" / "store"))
    assert baseline == _batch_scored(spark) and baseline

    # crashed run: hide the last file, run the pre-fit epochs, poison
    # the fit epoch's dirs, restore, restart
    regB, _ = _triplet_replay(spark, tmp_path / "B")
    src_path = regB.channels["ods_embeddings"].path
    files = sorted(
        (f for f in os.listdir(src_path)
         if f.endswith(".parquet") and not f.startswith((".", "_"))),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    store_b = str(tmp_path / "B" / "store")
    qb = pipelines.triplet_mine_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), store_b, expected_corpus=n,
    )
    qb.processAllAvailable()
    qb.stop()
    assert not os.path.exists(os.path.join(store_b, "_FIT_EPOCH"))  # still stashing
    spark.createDataFrame(
        [(999_999, 999_999, 1.0)], "qid long, cid long, cos_sim double"
    ).write.mode("overwrite").parquet(os.path.join(store_b, "scored", "epoch=2"))
    spark.createDataFrame(
        [(999_999, [0.0] * 64)], "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(os.path.join(store_b, "stash", "epoch=2"))

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    qb2 = pipelines.triplet_mine_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), store_b, expected_corpus=n,
    )
    qb2.processAllAvailable()
    qb2.stop()
    got = _triplet_scored(spark, store_b)
    assert not any(q == 999_999 for q, _, _ in got)
    assert got == baseline
    # the poisoned stash epoch was scrubbed by the fit branch
    assert not os.path.exists(os.path.join(store_b, "stash", "epoch=2"))
    assert open(os.path.join(store_b, "_FIT_EPOCH")).read().strip() == "2"


def test_triplet_mine_app_duplicate_delivery_fit_epoch(spark, tmp_path):
    """Redelivering the already-committed FIT epoch (checkpoint rewind)
    re-runs it with the same epoch id: the marker routes it to the
    redelivery path, the stored centroids AND probe frame stand in for
    the bit-equal refit, and the candidate store is bit-unchanged."""
    regA, n = _triplet_replay(spark, tmp_path)
    store = str(tmp_path / "store")
    q = pipelines.triplet_mine_app(
        spark, regA, str(tmp_path / "ckpt"), store, expected_corpus=n,
    )
    q.processAllAvailable()
    q.stop()
    before = _triplet_scored(spark, store)
    fit_ep = open(os.path.join(store, "_FIT_EPOCH")).read().strip()
    cents_before = {
        (r["c"], tuple(r["cv"]))
        for r in spark.read.parquet(os.path.join(store, "centroids")).collect()
    }
    probes_before = {
        (r["qid"], r["qlabel"], tuple(r["qv"]))
        for r in spark.read.parquet(os.path.join(store, "probes")).collect()
    }

    last = _recommit_last_epoch(str(tmp_path / "ckpt" / "triplet_mine"))
    assert str(last) == fit_ep  # the redelivered epoch IS the fit epoch
    q2 = pipelines.triplet_mine_app(
        spark, regA, str(tmp_path / "ckpt"), store, expected_corpus=n,
    )
    q2.processAllAvailable()
    q2.stop()
    assert _triplet_scored(spark, store) == before
    assert open(os.path.join(store, "_FIT_EPOCH")).read().strip() == fit_ep
    cents_after = {
        (r["c"], tuple(r["cv"]))
        for r in spark.read.parquet(os.path.join(store, "centroids")).collect()
    }
    probes_after = {
        (r["qid"], r["qlabel"], tuple(r["qv"]))
        for r in spark.read.parquet(os.path.join(store, "probes")).collect()
    }
    assert cents_after == cents_before and probes_after == probes_before


def _ptron_replay(spark, root):
    """Id-ordered 3-batch document replay for the perceptron gate app,
    split by explicit doc_id ranges so epoch membership is
    deterministic across runs. The cuts (100 / 200) keep the first two
    epochs' cumulative arrival BELOW PTRON_FIT_N = 256, pinning the
    fit onto the LAST epoch — the shape both crash tests poison."""
    docs = load_tables(spark, SF_SMOKE, "documents")["documents"].select(
        "doc_id", "text", "lang"
    )
    n = docs.count()
    reg = ChannelRegistry(str(root))
    reg.register("ods_documents", schema="doc_id long, text string, lang string")
    write_replay(
        docs, reg.channels["ods_documents"].path, n_files=3,
        order_by=["doc_id"],
        file_of=F.when(F.col("doc_id") < 100, 0)
        .when(F.col("doc_id") < 200, 1)
        .otherwise(2),
    )
    return reg, n


def _ptron_gate_rows(spark, store):
    from gmall_flink_0526_spark.streaming.pipelines import merged_ptron_gate

    return {
        (r["lang"], r["total_ct"], r["kept_ct"], r["keep_rate"])
        for r in merged_ptron_gate(spark, store).collect()
    }


def test_ptron_gate_app_poison_epoch_and_batch_parity(spark, tmp_path):
    """ptron_gate_app's crash contract: an attempt of the FIT epoch
    that died after writing poisoned grid/stash epochs but BEFORE the
    checkpoint commit is fully rewritten on restart — the
    deterministic refit plus overwrite-own-epoch scrubs the poison —
    and the recovered merged grid equals the BATCH gate's per-language
    report exactly (the additive-grid claim at the value level)."""
    import shutil

    from gmall_flink_0526_spark import plans

    regA, n = _ptron_replay(spark, tmp_path / "A")
    qa = pipelines.ptron_gate_app(
        spark, regA, str(tmp_path / "A" / "ckpt"), str(tmp_path / "A" / "store"),
        expected_docs=n,
    )
    qa.processAllAvailable()
    qa.stop()
    baseline = _ptron_gate_rows(spark, str(tmp_path / "A" / "store"))
    batch = {
        (r["lang"], r["total_ct"], r["kept_ct"], r["keep_rate"])
        for r in plans.queries()["quality_perceptron_filter"](spark, SF_SMOKE).collect()
    }
    assert baseline == batch and baseline

    # crashed run: hide the last file, run the pre-fit epochs, poison
    # the fit epoch's dirs, restore, restart
    regB, _ = _ptron_replay(spark, tmp_path / "B")
    src_path = regB.channels["ods_documents"].path
    files = sorted(
        (f for f in os.listdir(src_path)
         if f.endswith(".parquet") and not f.startswith((".", "_"))),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), str(tmp_path / "hidden.parquet"))
    store_b = str(tmp_path / "B" / "store")
    qb = pipelines.ptron_gate_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), store_b, expected_docs=n,
    )
    qb.processAllAvailable()
    qb.stop()
    assert not os.path.exists(os.path.join(store_b, "_FIT_EPOCH"))  # still stashing
    spark.createDataFrame(
        [("xx", 999_999, 999_999)], "lang string, total_ct long, kept_ct long"
    ).write.mode("overwrite").parquet(os.path.join(store_b, "grid", "epoch=2"))
    spark.createDataFrame(
        [(999_999, "poison", "xx")], "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(os.path.join(store_b, "stash", "epoch=2"))

    shutil.move(str(tmp_path / "hidden.parquet"), os.path.join(src_path, hidden))
    qb2 = pipelines.ptron_gate_app(
        spark, regB, str(tmp_path / "B" / "ckpt"), store_b, expected_docs=n,
    )
    qb2.processAllAvailable()
    qb2.stop()
    got = _ptron_gate_rows(spark, store_b)
    assert not any(lang == "xx" for lang, _, _, _ in got)
    assert got == baseline
    assert not os.path.exists(os.path.join(store_b, "stash", "epoch=2"))
    assert open(os.path.join(store_b, "_FIT_EPOCH")).read().strip() == "2"


def test_ptron_gate_app_duplicate_delivery_fit_epoch(spark, tmp_path):
    """Redelivering the already-committed FIT epoch (checkpoint rewind)
    re-runs it with the same epoch id: the marker routes it to the
    redelivery path, the stored ONE-ROW model card stands in for the
    bit-equal refit, and the merged grid is bit-unchanged."""
    regA, n = _ptron_replay(spark, tmp_path)
    store = str(tmp_path / "store")
    q = pipelines.ptron_gate_app(
        spark, regA, str(tmp_path / "ckpt"), store, expected_docs=n,
    )
    q.processAllAvailable()
    q.stop()
    before = _ptron_gate_rows(spark, store)
    fit_ep = open(os.path.join(store, "_FIT_EPOCH")).read().strip()
    model_before = [
        tuple(r) for r in spark.read.parquet(os.path.join(store, "model")).collect()
    ]

    last = _recommit_last_epoch(str(tmp_path / "ckpt" / "ptron_gate"))
    assert str(last) == fit_ep  # the redelivered epoch IS the fit epoch
    q2 = pipelines.ptron_gate_app(
        spark, regA, str(tmp_path / "ckpt"), store, expected_docs=n,
    )
    q2.processAllAvailable()
    q2.stop()
    assert _ptron_gate_rows(spark, store) == before
    assert open(os.path.join(store, "_FIT_EPOCH")).read().strip() == fit_ep
    model_after = [
        tuple(r) for r in spark.read.parquet(os.path.join(store, "model")).collect()
    ]
    assert model_after == model_before
