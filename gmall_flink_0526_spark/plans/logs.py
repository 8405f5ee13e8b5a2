"""Behavior-log pipeline queries (SURVEY §2.3-§2.5, §2.7-§2.8) — the
batch twins of the BaseLogApp / UniqueVisitApp / UserJumpDetailApp /
BaseDbApp-routing computations, mapped onto the ``events`` table
(FIXTURES.md §B: events plays the behavior-log stream; ``props`` is the
schema-on-read JSON payload; ``user_id`` plays ``common.mid``).

The exact streaming-state versions of F2/F3/U2 live in
``streaming/stateful.py``; replay tests assert they converge to these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F, types as T

from ..functions.exact import exact_sum, sql_sum
from ..session import load_tables
from .catalog import register

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


# ----------------------------------------------------------------------
# P1 — JSON parse with dead-letter side output.
# ----------------------------------------------------------------------


@register(
    "json_dead_letter",
    oracle="""
    WITH raw AS (
      SELECT event_type,
             CASE WHEN event_id % 50 = 0 THEN substr(props, 1, 5) ELSE props END AS payload
      FROM events
    )
    SELECT event_type,
           COUNT(*) FILTER (WHERE json_valid(payload)) AS clean_ct,
           COUNT(*) FILTER (WHERE NOT json_valid(payload)) AS dirty_ct,
           CAST(SUM(CASE WHEN json_valid(payload)
                    THEN CAST(json_extract_string(payload, '$.k') AS BIGINT) END) AS BIGINT) AS k_sum
    FROM raw
    GROUP BY event_type
    """,
    doc="P1 — try-parse JSON with dirty-data side output "
    "(RT/app/dwd/BaseLogApp.java:35-56): every 50th payload is truncated "
    "to simulate corrupt input. The payload is parsed once and flagged "
    "dirty where from_json finds no valid record; one aggregation keyed "
    "by event_type counts each side of the flag and sums the typed field "
    "over the clean rows.",
    tags=("parse", "deadletter"),
)
def json_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    from ..operators.parse import DEAD_LETTER, flag_dead_letter
    from ..operators.partitioning import spread

    # spread so from_json parallelizes
    raw = spread(t["events"], "event_id").withColumn(
        "payload",
        F.when(F.col("event_id") % 50 == 0, F.substring("props", 1, 5)).otherwise(F.col("props")),
    )
    dirty = F.col(DEAD_LETTER)
    return (
        flag_dead_letter(raw, "payload", PROPS_SCHEMA, out="data")
        .groupBy("event_type")
        .agg(
            F.count_if(~dirty).alias("clean_ct"),
            F.count_if(dirty).alias("dirty_ct"),
            F.sum(F.when(~dirty, F.col("data.k"))).alias("k_sum"),
        )
    )


# ----------------------------------------------------------------------
# R1 — n-way stream split (side outputs).
# ----------------------------------------------------------------------


@register(
    "log_split_counts",
    oracle="""
    SELECT CASE WHEN event_type = 'signup' THEN 'start'
                WHEN event_type IN ('view', 'click') THEN 'page'
                ELSE 'display' END AS route,
           COUNT(*) AS ct,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1
    """,
    doc="R1 — one-pass 3-way split via side outputs "
    "(RT/app/dwd/BaseLogApp.java:99-151): signup plays the start-log "
    "branch, view/click the page branch, the rest the display branch. "
    "Batch form: N filtered children over one scan (Catalyst shares it).",
    tags=("routing", "split"),
)
def log_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    from ..operators.routing import split_stream

    branches = split_stream(
        t["events"],
        {
            "start": F.col("event_type") == "signup",
            "page": F.col("event_type").isin("view", "click"),
            "display": ~F.col("event_type").isin("signup", "view", "click"),
        },
    )
    outs = [
        df.agg(
            F.lit(name).alias("route"),
            F.count("*").alias("ct"),
            exact_sum(F.col("value")).alias("value_sum"),
        )
        for name, df in branches.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    # An ungrouped agg emits one row even for an empty branch (ct=0,
    # value_sum NULL); the oracle's GROUP BY emits none — drop them.
    return out.filter(F.col("ct") > 0)


# ----------------------------------------------------------------------
# R2 — broadcast-config dynamic routing.
# ----------------------------------------------------------------------

ROUTING_CONFIG = [
    # (sourceTable, operateType, sinkType, sinkTable)
    ("view", "insert", "kafka", "dwd_page_log"),
    ("click", "insert", "kafka", "dwd_click_log"),
    ("purchase", "insert", "kafka", "dwd_order_info"),
    ("signup", "insert", "hbase", "dim_user_info"),
    # 'error' intentionally absent -> unknown keys are dropped
]


@register(
    "config_routing",
    oracle="""
    WITH config(sourceTable, operateType, sinkType, sinkTable) AS (
      VALUES ('view', 'insert', 'kafka', 'dwd_page_log'),
             ('click', 'insert', 'kafka', 'dwd_click_log'),
             ('purchase', 'insert', 'kafka', 'dwd_order_info'),
             ('signup', 'insert', 'hbase', 'dim_user_info')
    )
    SELECT sinkType, sinkTable, COUNT(*) AS ct
    FROM events JOIN config
      ON event_type = sourceTable AND operateType = 'insert'
    GROUP BY sinkType, sinkTable
    """,
    doc="R2/R3 — dynamic table routing against a broadcast config table "
    "(RT/app/dwd/BaseDbApp.java:63-75, RT/app/func/TableProcessFunction"
    ".java:135-163): change records join the table_process config on "
    "(table, operation); inner join drops unknown keys exactly like the "
    "reference's log-and-drop; sinkType partitions kafka vs dim branches.",
    tags=("routing", "broadcast", "config"),
)
def config_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    from ..operators.routing import route_by_config

    config = spark.createDataFrame(
        [(s, o, st, tbl, None, "id", None) for s, o, st, tbl in ROUTING_CONFIG],
        schema="sourceTable string, operateType string, sinkType string, "
        "sinkTable string, sinkColumns string, sinkPk string, sinkExtend string",
    )
    data = t["events"].withColumn("tableName", F.col("event_type")).withColumn(
        "type", F.lit("insert")
    )
    routed = route_by_config(data, config)
    return routed.groupBy("sinkType", "sinkTable").agg(F.count("*").alias("ct"))


# ----------------------------------------------------------------------
# A1 — tumbling-window visitor stats.
# ----------------------------------------------------------------------


@register(
    "visitor_stats_hourly",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           COUNT(DISTINCT user_id) AS uv_ct,
           {sql_sum('value')} AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="A1 — VisitorStats tumbling event-time window aggregate "
    "(RT/bean/VisitorStats.java:11-36): window start serialized as the "
    "stt string; pv count, exact uv, value sum per window x dimension.",
    tags=("agg", "window", "events"),
)
def visitor_stats_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "event_type",
        )
        .agg(
            F.count("*").alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            exact_sum(F.col("value")).alias("value_sum"),
        )
    )


# Shared by the batch query and its streaming twin: Spark's
# window(ts, *VISITOR_SLIDE) assigns each row the two epoch-aligned
# hour starts covering it — start in {floor_hour(ts) - 1h,
# floor_hour(ts)} — which the oracle unnests explicitly.
VISITOR_SLIDE = ("2 hours", "1 hour")
_SQL_VISITOR_SLIDING = """
    WITH hopped AS (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS wstart,
             event_type, value
      FROM events
    )
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
    FROM hopped
    GROUP BY 1, 2
    """


@register(
    "visitor_stats_sliding",
    oracle=_SQL_VISITOR_SLIDING,
    doc="A1, SLIDING (hop) windows — the third member of the window "
    "family (tumbling = visitor_stats_hourly, session = "
    "session_stats): per event type, pv count and exact value sum "
    "over 2-hour windows hopping every hour, via Spark's native "
    "window(ts, '2 hours', '1 hour') — each row fans out to exactly "
    "window/slide = 2 epoch-aligned windows inside whole-stage "
    "codegen, then ONE map-side-combinable grouped agg; at 100 TB "
    "the fan-out factor is the fixed ratio, never data-dependent. "
    "The oracle unnests the same two hour starts per row.",
    tags=("events", "agg", "window"),
)
def visitor_stats_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy(F.window("ts", *VISITOR_SLIDE).alias("w"), "event_type")
        .agg(
            F.count("*").alias("pv_ct"),
            exact_sum(F.col("value")).alias("value_sum"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("stt"),
            "event_type",
            "pv_ct",
            "value_sum",
        )
    )


# ----------------------------------------------------------------------
# F2 — daily unique-visitor dedup (batch twin of the keyed-state op).
# ----------------------------------------------------------------------


@register(
    "uv_first_visit",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id,
             strftime(ts, '%Y-%m-%d') AS dt,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id, dt, event_id AS first_event_id
    FROM ranked WHERE rn = 1
    """,
    doc="F2 — UV dedup: first visit of each user per calendar day "
    "(ValueState<lastVisitDate> + 1-day TTL, "
    "RT/app/dwm/UniqueVisitApp.java:41-84). Batch twin: row_number over "
    "(user, day). Exact streaming-state version: streaming/stateful.py.",
    tags=("dedup", "state", "events"),
)
def uv_first_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    from ..operators.filters import first_visit_per_day

    firsts = first_visit_per_day(t["events"], key="user_id", ts="ts", tiebreak="event_id")
    return firsts.select(
        "user_id",
        F.date_format("dt", "yyyy-MM-dd").alias("dt"),
        F.col("event_id").alias("first_event_id"),
    )


# ----------------------------------------------------------------------
# F3 — new-user flag correction (batch twin).
# ----------------------------------------------------------------------


@register(
    "is_new_fix",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts, '1' AS is_new_claim,
             MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
      FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN is_new_claim = '1' AND CAST(ts AS DATE) != first_day
                THEN '0' ELSE is_new_claim END AS is_new
    FROM flagged
    """,
    doc="F3 — is_new flag correction: a record may claim is_new='1' only "
    "on the user's first-seen day (keyed ValueState, "
    "RT/app/dwd/BaseLogApp.java:58-95). Batch twin: min(ts) over user.",
    tags=("state", "events"),
)
def is_new_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    from ..operators.filters import fix_is_new

    flagged = t["events"].withColumn("is_new", F.lit("1"))
    return fix_is_new(flagged, key="user_id", ts="ts").select("event_id", "user_id", "is_new")


# ----------------------------------------------------------------------
# U2 — bounce (user-jump) detection via sessionization (batch twin).
# ----------------------------------------------------------------------

SESSION_GAP_MIN = 10


@register(
    "bounce_stats",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_entry
      FROM events
    ), sessions AS (
      SELECT user_id,
             SUM(is_entry) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ), per_session AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS session_ct,
           COUNT(*) FILTER (WHERE n_events = 1) AS bounce_ct
    FROM per_session
    GROUP BY user_id
    """,
    doc="U2 — bounce/user-jump detection, the reference's planned CEP job "
    "(empty stub RT/app/dwm/UserJumpDetailApp.java:1-4; flink-cep dep "
    "gmall-realtime/pom.xml:52-56; consumer VisitorStats.uj_ct). Spark "
    "has no CEP: batch twin sessionizes by {SESSION_GAP_MIN}-min gaps "
    "(lag + running sum); a bounce is a single-event session. Exact "
    "streaming version with timeout emission: streaming/stateful.py.",
    tags=("cep", "session", "events"),
)
def bounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    from ..operators.filters import sessionize

    sess = sessionize(
        t["events"], key="user_id", ts="ts", tiebreak="event_id", gap_minutes=SESSION_GAP_MIN
    )
    per_session = sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("session_ct"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("bounce_ct"),
    )


@register(
    "session_stats",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_entry
      FROM events
    ), s AS (
      SELECT user_id, ts, event_id, value,
             SUM(is_entry) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS BIGINT) AS dur_ms,
           {sql_sum('value')} AS value_sum
    FROM s GROUP BY user_id, session_id
    """,
    doc=f"Per-session rollup — the full session-window aggregate the "
    f"bounce detector (U2) is a special case of: {SESSION_GAP_MIN}-min "
    "gap sessionization (lag + running sum, one user-keyed window "
    "sort), then per-session start/end/count/duration/value. Batch "
    "twin of Spark's native session_window streaming aggregation "
    "(streaming/pipelines.session_window_app) — the two agree on every "
    "session the watermark has closed.",
    tags=("cep", "session", "events", "agg"),
)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    from ..operators.filters import sessionize

    sess = sessionize(
        t["events"], key="user_id", ts="ts", tiebreak="event_id", gap_minutes=SESSION_GAP_MIN
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.count("*").alias("n_events"),
        # cast: the parquet ts column may surface as TIMESTAMP_NTZ
        # (session-dependent inference) and unix_millis rejects NTZ
        (
            F.unix_millis(F.max("ts").cast("timestamp"))
            - F.unix_millis(F.min("ts").cast("timestamp"))
        ).alias("dur_ms"),
        exact_sum(F.col("value")).alias("value_sum"),
    )


@register(
    "visitor_stats_union",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS dt,
           COUNT(CASE WHEN event_type IN ('view', 'click') THEN 1 END) AS pv_ct,
           COUNT(DISTINCT user_id) AS uv_ct,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS sv_ct,
           {sql_sum('value')} AS dur_sum
    FROM events
    GROUP BY 1
    """,
    doc="A1, exact reference shape — VisitorStats built the way the DWS "
    "app wires it: four pre-shaped streams (page views, deduped unique "
    "visitors, session starts, duration) unioned then reduced per key "
    "(RT/bean/VisitorStats.java:11-36: one constructor per source "
    "stream, zero-filled measures, keyed window reduce). Each measure "
    "is a partial-aggregable sum, so the union costs one shuffle total.",
    tags=("agg", "union", "events"),
)
def visitor_stats_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    l0, d0 = F.lit(0).cast("long"), F.lit(0.0)

    def shaped(df, pv=l0, uv=l0, sv=l0, dur=d0):
        return df.select(
            "dt",
            pv.alias("pv"), uv.alias("uv"), sv.alias("sv"), dur.alias("dur"),
        )

    one = F.lit(1).cast("long")
    pv = shaped(ev.filter(F.col("event_type").isin("view", "click")), pv=one)
    uv = shaped(ev.select("dt", "user_id").distinct(), uv=one)
    sv = shaped(ev.filter(F.col("event_type") == "signup"), sv=one)
    dur = shaped(ev, dur=F.col("value"))
    unioned = pv.unionByName(uv).unionByName(sv).unionByName(dur)
    return unioned.groupBy("dt").agg(
        F.sum("pv").alias("pv_ct"),
        F.sum("uv").alias("uv_ct"),
        F.sum("sv").alias("sv_ct"),
        exact_sum(F.col("dur")).alias("dur_sum"),
    )


@register(
    "log_explode_displays",
    oracle="""
    WITH e AS (SELECT event_id, event_id % 4 AS k FROM events),
    d AS (SELECT event_id, unnest(range(1, k + 1)) AS i FROM e WHERE k >= 1)
    SELECT CASE WHEN i % 2 = 1 THEN 'promotion' ELSE 'query' END AS display_type,
           COUNT(*) AS display_ct,
           CAST(SUM(event_id) AS BIGINT) AS parent_sum,
           CAST(SUM(i) AS BIGINT) AS order_sum
    FROM d
    GROUP BY 1
    """,
    doc="P5 in its authentic nested form (RT/app/dwd/BaseLogApp.java:"
    "120-140): the behavior-log JSON (common/page/displays[] per "
    "schemas.BEHAVIOR_LOG) is built, round-tripped through "
    "to_json/from_json, the displays array exploded 1->N with parent "
    "fields stamped onto each element (explode_with_parent); parent_sum "
    "proves the stamped parent id survives the fan-out.",
    tags=("parse", "explode", "logs"),
)
def log_explode_displays(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.parse import explode_with_parent
    from ..operators.partitioning import spread
    from ..schemas import BEHAVIOR_LOG

    t = load_tables(spark, sf_dir, "events")
    k = F.col("event_id") % 4
    # synthesize the nested log: displays[i] for i in 1..(event_id % 4)
    displays = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.struct(
            F.when(i % 2 == 1, "promotion").otherwise("query").alias("display_type"),
            F.concat(F.lit("sku_"), i).alias("item"),
            F.lit("sku_id").alias("item_type"),
            i.cast("long").alias("order"),
        ),
    )
    raw = spread(t["events"], "event_id").select(
        F.to_json(
            F.struct(
                F.struct(
                    F.concat(F.lit("mid_"), F.col("user_id")).alias("mid"),
                    F.col("event_id").cast("string").alias("uid"),
                ).alias("common"),
                F.when(k >= 1, displays)
                .otherwise(
                    F.array().cast(
                        "array<struct<display_type:string,item:string,item_type:string,order:bigint>>"
                    )
                )
                .alias("displays"),
                F.unix_millis(F.col("ts").cast("timestamp")).alias("ts"),
            )
        ).alias("line")
    )
    parsed = raw.select(F.from_json("line", BEHAVIOR_LOG).alias("log")).select("log.*")
    exploded = explode_with_parent(
        parsed.filter(F.size("displays") >= 1),
        "displays",
        {"parent_uid": F.col("common.uid").cast("long")},
        out="display",
    )
    return exploded.groupBy(F.col("display.display_type").alias("display_type")).agg(
        F.count("*").alias("display_ct"),
        F.sum("parent_uid").alias("parent_sum"),
        F.sum("display.order").alias("order_sum"),
    )


CORRUPT_MOD = 50  # every 50th behavior-log line is truncated -> dead letter

# log_split_stream replays a deterministic 1-in-3 subset of the events
# fixture: the query verifies the STREAMING SPLIT SEMANTICS (parse,
# dead letter, presence routing, displays fan-out), and 33k rows
# through 3 real micro-batches x 4 sinks prove exactly what 100k do at
# a third of the harness wall-clock. Mirrored verbatim in the oracle
# (both the query and the oracle string read this module constant, so
# the override below can never split them). Set
# SPARK_GRAFT_LOG_REPLAY_MOD=1 for a full-fixture certification pass —
# the occasional 100k-row end-to-end run bench.py's workload note
# points at.
import os as _os

REPLAY_MOD = int(_os.environ.get("SPARK_GRAFT_LOG_REPLAY_MOD", "3"))


def synth_behavior_log(events: DataFrame, corrupt_mod: int | None = None) -> DataFrame:
    """Render the events fixture as authentic nested behavior-log JSON
    lines (``schemas.BEHAVIOR_LOG`` shape, the at-rest form of the
    reference's ods_base_log topic): signup events become START logs
    (common + start + ts), everything else PAGE logs (common + page +
    displays[i] for i in 1..(event_id % 4) + ts). ``corrupt_mod``
    truncates every matching line to exercise the dead letter. All
    payload values are deterministic functions of events columns, so a
    SQL oracle can re-derive every branch without parsing JSON.
    Returns (event_id, ts, log)."""
    from ..operators.partitioning import spread

    k = F.col("event_id") % 4
    displays = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.struct(
            F.when(i % 2 == 1, "promotion").otherwise("query").alias("display_type"),
            F.concat(F.lit("sku_"), i).alias("item"),
            F.lit("sku_id").alias("item_type"),
            i.cast("long").alias("order"),
        ),
    )
    empty = F.array().cast(
        "array<struct<display_type:string,item:string,item_type:string,order:bigint>>"
    )
    common = F.struct(
        F.concat(F.lit("mid_"), F.col("user_id")).alias("mid"),
        F.col("event_id").cast("string").alias("uid"),
    )
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    start_line = F.to_json(
        F.struct(
            common.alias("common"),
            F.struct(
                F.lit("icon").alias("entry"),
                F.col("event_id").cast("long").alias("open_ad_id"),
                (F.col("event_id") % 1000).cast("long").alias("loading_time"),
            ).alias("start"),
            ts_ms.alias("ts"),
        )
    )
    page_line = F.to_json(
        F.struct(
            common.alias("common"),
            F.struct(
                F.concat(F.lit("p_"), F.col("event_type")).alias("page_id"),
                (F.col("event_id") % 1000).cast("long").alias("during_time"),
            ).alias("page"),
            F.when(k >= 1, displays).otherwise(empty).alias("displays"),
            ts_ms.alias("ts"),
        )
    )
    line = F.when(F.col("event_type") == "signup", start_line).otherwise(page_line)
    if corrupt_mod is not None:
        line = F.when(
            F.col("event_id") % corrupt_mod == 0, F.substring(line, 1, 7)
        ).otherwise(line)
    return spread(events, "event_id").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), line.alias("log")
    )


@register(
    "log_split_stream",
    oracle=f"""
    WITH sub AS (
      SELECT * FROM events WHERE event_id % {REPLAY_MOD} = 0
    ),
    e AS (
      SELECT event_id, event_type, event_id % 4 AS k
      FROM sub WHERE event_id % {CORRUPT_MOD} != 0
    )
    SELECT * FROM (
      SELECT 'start' AS route, COUNT(*) AS ct,
             CAST(SUM(event_id % 1000) AS BIGINT) AS checksum
      FROM e WHERE event_type = 'signup'
      UNION ALL
      SELECT 'page', COUNT(*), CAST(SUM(event_id % 1000) AS BIGINT)
      FROM e WHERE event_type != 'signup'
      UNION ALL
      SELECT 'display', CAST(SUM(k) AS BIGINT), CAST(SUM(k * (k + 1) // 2) AS BIGINT)
      FROM e WHERE event_type != 'signup' AND k >= 1
      UNION ALL
      SELECT 'dirty', COUNT(*), CAST(0 AS BIGINT)
      FROM sub WHERE event_id % {CORRUPT_MOD} = 0
    ) WHERE ct > 0
    """,
    doc="R1/P1/P5 end-to-end on the REAL streaming app: base_log_app's "
    "authentic nested path (BaseLogApp.java:99-151) replays the events "
    "fixture rendered as behavior-log JSON lines in 3 micro-batches — "
    "JSON parse + dead letter, start/page presence split, displays[] "
    "exploded with the parent stamped — and the per-channel counts and "
    "payload checksums (loading_time / during_time / display order "
    "sums) are value-checked by the oracle, which re-derives every "
    "branch from the deterministic synthesis rule without JSON.",
    tags=("routing", "split", "parse", "streaming", "logs"),
)
def log_split_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..streaming.pipelines import base_log_app
    from ..streaming.replay import replay_registry, run_to_end

    ev = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("event_id") % REPLAY_MOD == 0
    )
    lines = synth_behavior_log(ev, corrupt_mod=CORRUPT_MOD)
    reg = replay_registry("gmall_logsplit_", ods_base_log=(lines, 3, ["ts", "event_id"]))
    # the session's fan-out, not JVM_PARTITIONS: 8 measured no faster
    # here (tools/profile_query.py, sf0.1, 4 cores)
    run_to_end(
        spark,
        reg,
        lambda: base_log_app(spark, reg, os.path.join(reg.root, "ckpt")),
        partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    zero = F.lit(0).cast("long")
    outs = [
        reg.read_batch(spark, "dwd_start_log").agg(
            F.lit("start").alias("route"),
            F.count("*").alias("ct"),
            F.sum("loading_time").cast("long").alias("checksum"),
        ),
        reg.read_batch(spark, "dwd_page_log").agg(
            F.lit("page").alias("route"),
            F.count("*").alias("ct"),
            F.sum("during_time").cast("long").alias("checksum"),
        ),
        reg.read_batch(spark, "dwd_display_log").agg(
            F.lit("display").alias("route"),
            F.count("*").alias("ct"),
            F.sum("order").cast("long").alias("checksum"),
        ),
        reg.read_batch(spark, "dirty_log").agg(
            F.lit("dirty").alias("route"),
            F.count("*").alias("ct"),
            F.max(zero).alias("checksum"),
        ),
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.filter(F.col("ct") > 0)


@register(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.9) AS p90,
           quantile_disc(value, 0.99) AS p99,
           MAX(value) AS vmax
    FROM events GROUP BY event_type
    """,
    doc="Distribution stats per event type — the DWS-layer latency/"
    "value percentile rollup (reference reports only sums/counts in "
    "its stats beans, RT/bean/VisitorStats.java). percentile_disc "
    "picks an actual element, so Spark and DuckDB agree bit-for-bit "
    "(interpolating percentiles would not); computed as a single "
    "grouped sort-based aggregate, one shuffle on the group key. At "
    "scale the same query swaps to approx_percentile (t-digest) the "
    "way product_stats_approx swaps HLL for collect_set.",
    tags=("events", "agg", "stats"),
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "events")
    return spark.sql("""
      SELECT event_type,
             COUNT(*) AS n,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
             percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90,
             percentile_disc(0.99) WITHIN GROUP (ORDER BY value) AS p99,
             MAX(value) AS vmax
      FROM events GROUP BY event_type
    """)


def _sql_binned_grid(extra_cols: str = "") -> str:
    """The shared stats + binned CTE text — ONE definition of the
    binning rule for both events-grid oracles (`sql_quantile_hist_audit`
    and `_sql_drift_chi2`), so a future binning change cannot
    desynchronize them (r10 review finding). Mirrors
    ``operators.aggregates.hist_bin``'s sentinel contract exactly:
    NULL value or NULL bounds -> bin -1 (downstream CTEs exclude it),
    never the NULL-swallowing LEAST/GREATEST top-bin trap."""
    from ..operators.aggregates import HIST_BINS

    return f"""
    stats AS (
      SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM events GROUP BY event_type
    ),
    binned AS (
      SELECT e.event_type{extra_cols},
             CASE WHEN e.value IS NULL OR s.vmin IS NULL OR s.vmax IS NULL
                  THEN -1
                  WHEN s.vmax > s.vmin
                  THEN CAST(GREATEST(LEAST(FLOOR((e.value - s.vmin)
                        / ((s.vmax - s.vmin) / {HIST_BINS})),
                       {HIST_BINS - 1}), 0) AS INTEGER)
                  ELSE 0 END AS b
      FROM events e LEFT JOIN stats s USING (event_type)
    )"""


def sql_quantile_hist_audit() -> str:
    """The histogram-quantile audit as DuckDB SQL — shared verbatim by
    `quantile_histogram_audit` (grid built in-query) and the streaming
    replay `quantile_sketch_stream` (per-epoch grids summed): the grid
    is additive, so both build paths are the same grid. Every float
    step (bin width, bin index, rank threshold, midpoint) is the same
    IEEE expression tree as the Spark side, so estimates match
    bit-for-bit INCLUDING binning error."""
    from ..operators.aggregates import HIST_BINS, HIST_QS

    exl = " UNION ALL ".join(
        f"SELECT event_type, '{q}' AS q, quantile_disc(value, {p}) AS exact_q "
        f"FROM events GROUP BY event_type"
        for q, p in HIST_QS
    )
    hit_cols = ", ".join(
        f"MIN(CASE WHEN cum >= CAST(CEIL({p} * n) AS BIGINT) THEN b END) AS _b_{q}"
        for q, p in HIST_QS
    )
    unpivot = " UNION ALL ".join(
        f"SELECT event_type, n, '{q}' AS q, _b_{q} AS qb FROM hits" for q, _ in HIST_QS
    )
    return f"""
    WITH {_sql_binned_grid()},
    hist AS (SELECT event_type, b, COUNT(*) AS ct FROM binned
             WHERE b >= 0 GROUP BY 1, 2),
    cumt AS (
      SELECT event_type, b, ct,
             SUM(ct) OVER (PARTITION BY event_type ORDER BY b) AS cum,
             SUM(ct) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    hits AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, {hit_cols}
      FROM cumt GROUP BY event_type
    ),
    hitl AS ({unpivot}),
    exl AS ({exl})
    SELECT h.event_type, h.q, h.n,
           s.vmin + (h.qb + 0.5) * ((s.vmax - s.vmin) / {HIST_BINS}) AS hist_q,
           e.exact_q,
           s.vmin + (h.qb + 0.5) * ((s.vmax - s.vmin) / {HIST_BINS}) - e.exact_q
             AS err
    FROM hitl h
    JOIN stats s USING (event_type)
    JOIN exl e ON e.event_type = h.event_type AND e.q = h.q
    """


def _exact_disc_long(spark: SparkSession) -> DataFrame:
    """Exact per-type quantiles (percentile_disc picks an ELEMENT, so
    both engines agree bit-for-bit), unpivoted to (event_type, q,
    exact_q)."""
    from ..operators.aggregates import HIST_QS

    cols = ", ".join(
        f"percentile_disc({p}) WITHIN GROUP (ORDER BY value) AS _x_{q}"
        for q, p in HIST_QS
    )
    wide = spark.sql(f"SELECT event_type, {cols} FROM events GROUP BY event_type")
    return wide.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"), F.col(f"_x_{q}").alias("exact_q")
                    )
                    for q, _ in HIST_QS
                ]
            )
        ).alias("_e"),
    ).select("event_type", F.col("_e.q").alias("q"), F.col("_e.exact_q").alias("exact_q"))


@register(
    "quantile_histogram_audit",
    oracle=sql_quantile_hist_audit(),
    doc="Histogram-quantile sketch audit — the QUANTILE member of the "
    "mergeable-sketch family (CMS = frequency, Bloom = membership): a "
    "fixed 256-bin equi-width count grid per event type (one "
    "map-side-combinable grouped count, additive across shards/epochs "
    "exactly like CMS) point-estimates p50/p90/p99 at the matched "
    "bin's midpoint; err = hist_q - exact_q is the binning error "
    "actually paid, the calibration read before trusting the sketch "
    "as the 100 TB swap for a full sort. The exact side is "
    "percentile_disc (picks an element — engine-agreeing), and every "
    "sketch-side float step (width, bin, ceil-rank, midpoint) is the "
    "same IEEE expression tree in both engines, so the oracle "
    "re-derives the estimates bit-for-bit. Post-grid work is "
    "sub-kilobyte: windows and conditional mins over <= types*256 "
    "rows. Production swaps t-digest for tighter tails; this is the "
    "shape that stays cross-engine reproducible, which is what an "
    "audit needs.",
    tags=("events", "sketch", "agg", "stats"),
)
def quantile_histogram_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import hist_counters, hist_quantiles

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].select("event_type", "value")
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    hist = hist_counters(ev, "event_type", "value", bounds)
    est = hist_quantiles(hist, bounds)
    return est.join(_exact_disc_long(spark), ["event_type", "q"]).select(
        "event_type",
        "q",
        "n",
        "hist_q",
        "exact_q",
        (F.col("hist_q") - F.col("exact_q")).alias("err"),
    )


def _sql_drift_chi2(h_expr: str = "e.event_id % 2") -> str:
    """The two-sample chi-square audit as DuckDB SQL, parameterized by
    the sample-membership expression ``h_expr`` (0 = baseline, 1 =
    live) so the batch query (event_id parity halves) and the
    epoch-store streaming twin (epoch ranges, which on the replay
    fixture are exactly an event_id mod class) share ONE body — the
    _sql_binned_grid precedent: a drift-formula change cannot
    desynchronize the two."""
    from ..functions.exact import sql_sum

    return f"""
    WITH {_sql_binned_grid(extra_cols=f", {h_expr} AS h")},
    grid AS (
      SELECT event_type, b,
             COUNT(*) FILTER (WHERE h = 0) AS c0,
             COUNT(*) FILTER (WHERE h = 1) AS c1
      FROM binned WHERE b >= 0 GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(SUM(c0) AS BIGINT) AS n0,
             CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(COUNT(*) AS BIGINT) AS used_bins
      FROM grid GROUP BY 1
    ),
    terms AS (
      SELECT g.event_type, g.c0, g.c1,
             CAST(g.c0 + g.c1 AS DOUBLE) * t.n0 / (t.n0 + t.n1) AS e0,
             CAST(g.c0 + g.c1 AS DOUBLE) * t.n1 / (t.n0 + t.n1) AS e1
      FROM grid g JOIN tot t USING (event_type)
    )
    SELECT t.event_type, t.n0, t.n1, t.used_bins,
           {sql_sum("(c0 - e0) * (c0 - e0) / e0 + (c1 - e1) * (c1 - e1) / e1")}
             AS chi2
    FROM terms x JOIN tot t USING (event_type)
    WHERE x.e0 > 0 AND x.e1 > 0
    GROUP BY 1, 2, 3, 4
    """


@register(
    "value_drift_chi2",
    oracle=_sql_drift_chi2(),
    doc="Distribution-drift audit — the data-quality monitor a 100 TB "
    "ingest pipeline runs between corpus snapshots: a two-sample "
    "chi-square statistic per event type over the SAME 256-bin "
    "histogram grid the quantile sketch uses (here the two samples "
    "are the deterministic event_id-parity halves; production passes "
    "yesterday/today). Everything heavy is the one "
    "map-side-combinable grouped count building the (type, bin, "
    "half) grid; expected counts, per-bin terms and the chi-square "
    "sum run over <= types*256 rows, with the final sum "
    "decimal-accumulated (order-free) so both engines emit identical "
    "doubles — chi-square is all +,*,/ (no libm log like PSI/KL, "
    "whose last-bit rounding is engine-specific). used_bins - 1 is "
    "the test's degrees of freedom.",
    tags=("events", "sketch", "audit", "stats"),
)
def value_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import hist_bin

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].select(
        "event_type", "value", (F.col("event_id") % 2).alias("h")
    )
    bounds = t["events"].groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = ev.join(F.broadcast(bounds), "event_type", "left").select(
        "event_type",
        "h",
        hist_bin(F.col("value"), F.col("vmin"), F.col("vmax")).alias("b"),
    )
    # sentinel bin -1 (NULL values) is excluded from the test, same as
    # hist_quantiles — and as the shared _sql_binned_grid oracle CTE
    grid = binned.filter(F.col("b") >= 0).groupBy("event_type", "b").agg(
        F.count_if(F.col("h") == 0).alias("c0"),
        F.count_if(F.col("h") == 1).alias("c1"),
    )
    return drift_chi2_from_grid(grid)


def drift_chi2_from_grid(grid: DataFrame) -> DataFrame:
    """Chi-square statistic from a two-sample count grid (event_type,
    b, c0, c1) — the shared tail of `value_drift_chi2` (grid built
    in-query from parity halves) and `value_drift_chi2_stream` (grid
    summed from epoch-store ranges): expected counts, per-bin terms
    and the decimal-accumulated sum all run over <= types*bins rows,
    identical expression tree to the oracle body's terms/chi2 CTEs."""
    tot = grid.groupBy("event_type").agg(
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.count("*").alias("used_bins"),
    )
    j = grid.join(F.broadcast(tot), "event_type")
    e0 = (F.col("c0") + F.col("c1")).cast("double") * F.col("n0") / (F.col("n0") + F.col("n1"))
    e1 = (F.col("c0") + F.col("c1")).cast("double") * F.col("n1") / (F.col("n0") + F.col("n1"))
    term = (F.col("c0") - e0) * (F.col("c0") - e0) / e0 + (
        F.col("c1") - e1
    ) * (F.col("c1") - e1) / e1
    return (
        j.filter((e0 > 0) & (e1 > 0))
        .groupBy("event_type", "n0", "n1", "used_bins")
        .agg(exact_sum(term).alias("chi2"))
    )


def _sql_hll_audit() -> str:
    """The HLL cardinality audit as DuckDB SQL — shared verbatim by
    `approx_distinct_hll` (grid built in-query) and the streaming
    replay `approx_distinct_hll_stream` (per-epoch grids max-merged):
    register merge is MAX, so both build paths are the same grid.
    Every step mirrors ``operators.aggregates.hll_registers`` /
    ``hll_estimate`` exactly: bucket and rho from disjoint md5 hex
    slices (rho = pure string arithmetic — strip leading '0' nibbles,
    4-way CASE on the first survivor), harmonic sum as an exact
    BIGINT of 2^(33-r) contributions, and the estimate as the ONE
    shared double constant divided by that integer — bit-identical
    IEEE division in both engines, no float accumulation, no libm."""
    from ..operators.aggregates import HLL_ALPHA_NUM, HLL_M
    from .text import sql_hex_val

    stripped = "regexp_replace(substr(hx, 9, 8), '^0+', '')"
    return f"""
    WITH h AS (
      SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS hx
      FROM events WHERE event_id IS NOT NULL
    ),
    rr AS (
      SELECT event_type,
             ({sql_hex_val('hx', 8)}) % {HLL_M} AS j,
             CASE WHEN {stripped} = '' THEN 33
                  ELSE 4 * (8 - length({stripped}))
                       + CASE WHEN substr({stripped}, 1, 1)
                                   IN ('8','9','a','b','c','d','e','f') THEN 0
                              WHEN substr({stripped}, 1, 1)
                                   IN ('4','5','6','7') THEN 1
                              WHEN substr({stripped}, 1, 1)
                                   IN ('2','3') THEN 2
                              ELSE 3 END + 1
             END AS r
      FROM h
    ),
    regs AS (SELECT event_type, j, MAX(r) AS r FROM rr GROUP BY 1, 2),
    agg AS (
      SELECT event_type,
             CAST({HLL_M} - COUNT(*) AS BIGINT) AS zeros,
             SUM(CAST(1 AS BIGINT) << (33 - r))
               + CAST({HLL_M} - COUNT(*) AS BIGINT)
                 * (CAST(1 AS BIGINT) << 33) AS s
      FROM regs GROUP BY 1
    ),
    ex AS (SELECT event_type, COUNT(DISTINCT event_id) AS n_exact
           FROM events GROUP BY 1)
    SELECT e.event_type, e.n_exact, a.zeros,
           {HLL_ALPHA_NUM!r} / CAST(a.s AS DOUBLE) AS hll_est,
           ({HLL_ALPHA_NUM!r} / CAST(a.s AS DOUBLE)
              - CAST(e.n_exact AS DOUBLE))
             / CAST(e.n_exact AS DOUBLE) * 100 AS err_pct
    FROM ex e JOIN agg a USING (event_type)
    """


def hll_audit_from_regs(spark: SparkSession, regs: DataFrame) -> DataFrame:
    """The audit tail shared by `approx_distinct_hll` and its stream
    twin: estimate from the register grid, join the exact side, emit
    the signed relative error actually paid — sub-kilobyte work over
    <= types*m register rows plus one exact distinct count."""
    from ..operators.aggregates import hll_estimate

    est = hll_estimate(regs, "event_type")
    ex = spark.sql(
        "SELECT event_type, COUNT(DISTINCT event_id) AS n_exact "
        "FROM events GROUP BY event_type"
    )
    n_dbl = F.col("n_exact").cast("double")
    return ex.join(est, "event_type").select(
        "event_type",
        "n_exact",
        "zeros",
        "hll_est",
        ((F.col("hll_est") - n_dbl) / n_dbl * 100).alias("err_pct"),
    )


@register(
    "approx_distinct_hll",
    oracle=_sql_hll_audit(),
    doc="HyperLogLog cardinality audit — the CARDINALITY member of the "
    "mergeable-sketch family (CMS = frequency, Bloom = membership, "
    "histogram = quantile): 32 explicit registers per event type over "
    "the event_id stream (the duplicate-ingestion detector a 100 TB "
    "pipeline runs per shard), register = MAX rho of the md5 slice "
    "routed to it — one map-side-combinable grouped max, mergeable "
    "across shards/epochs by plain MAX (idempotent: replays cannot "
    "corrupt it). err_pct = (est - exact)/exact is the sketch error "
    "actually paid (~1.04/sqrt(32) rsd by design — the CMS_WIDTH "
    "lesson: a non-trivial error column is the audit's point). Every "
    "derivation is exact string/integer arithmetic plus ONE final "
    "IEEE division (rho from hex chars, harmonic sum as a BIGINT of "
    "2^(33-r) terms), so the oracle re-derives estimates bit-for-bit "
    "— Spark's own HLL++ (approx_count_distinct, the inline "
    "production path: distinct_count_approx) keeps engine-private "
    "register layouts, which is exactly why the AUDIT uses this "
    "explicit-register form. Raw estimator only: the audited domain "
    "guarantees n > 2.5m, keeping the linear-counting branch's ln() "
    "(engine-specific last bit — the chi2-over-KL precedent) out of "
    "the certified surface.",
    tags=("events", "sketch", "agg", "stats"),
)
def approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import hll_registers

    t = load_tables(spark, sf_dir, "events")
    regs = hll_registers(t["events"], "event_type", "event_id")
    return hll_audit_from_regs(spark, regs)


# -- behavior-graph PageRank --------------------------------------------
#
# Fixed, unrolled iteration count: the statistic is "rank after K
# power steps from uniform", a deterministic derivation both engines
# can replay exactly — convergence-test loops belong to the caller
# (the BPE trainer precedent: a fixed merge budget, not a perplexity
# stop rule).
PAGERANK_ITERS = 5
PAGERANK_D = "0.85"
PAGERANK_RESET = "0.15"


def _sql_behavior_pagerank() -> str:
    """The K-step PageRank as DuckDB SQL — the chained-CTE mirror of
    the Spark loop: one CTE per power step, each step's per-node fan-in
    decimal-accumulated (sql_sum) so both engines carry IDENTICAL
    doubles into the next step — the error cannot compound because no
    step ever disagrees (the bpe_train_loop chaining precedent)."""
    from ..functions.exact import sql_sum

    its = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        cur = f"r{i}"
        its.append(f"""
    {cur} AS (
      SELECT nd.node,
             {PAGERANK_RESET} / nn.n
               + {PAGERANK_D} * COALESCE(c.s, 0.0) AS pr
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN (
        SELECT nrm.dst AS node, {sql_sum(f"{prev}.pr * nrm.p")} AS s
        FROM nrm JOIN {prev} ON {prev}.node = nrm.src
        GROUP BY nrm.dst
      ) c ON c.node = nd.node
    )""")
        prev = cur
    return f"""
    WITH pairs AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ),
    edges AS (
      SELECT src, dst, COUNT(*) AS w
      FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    deg AS (SELECT src, SUM(w) AS deg FROM edges GROUP BY 1),
    nrm AS (
      SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(d.deg AS DOUBLE) AS p
      FROM edges e JOIN deg d USING (src)
    ),
    nodes AS (SELECT DISTINCT event_type AS node FROM events),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes CROSS JOIN nn),
    {",".join(its)}
    SELECT node AS event_type, pr AS pagerank FROM r{PAGERANK_ITERS}
    """


@register(
    "behavior_pagerank",
    oracle=_sql_behavior_pagerank(),
    doc="PageRank over the behavior-transition graph — the flow-"
    "analysis rollup an e-commerce warehouse derives from the same "
    "stream BaseLogApp splits (which page/event soaks up user "
    "attention): edges = consecutive event pairs per user (lag "
    "window), then 5 unrolled power iterations with damping 0.85 "
    "from a uniform start. The 100 TB shape is honest about where "
    "the work is: the EDGE AGGREGATION is the heavy pass (one "
    "user-key window + one grouped count, both map-side-combining), "
    "after which the graph is entity-type-sized (<= types^2 rows, "
    "scoped_persist so the 5 iterations re-read a cached 25-row "
    "frame rather than re-scanning events — the engine's "
    "iterative-plan story on the GRAPH side, as bpe_train_loop is "
    "on the corpus side; contrast connected_components' pointer "
    "jumping, which iterates on the full vertex set because dedup "
    "graphs are corpus-sized). Each step's per-node fan-in is "
    "decimal-accumulated (exact_sum) so both engines carry "
    "bit-identical doubles into the next step — K chained steps "
    "cannot drift because no single step ever disagrees; the oracle "
    "is the same derivation as K chained CTEs. Dangling mass: none "
    "at this graph's density (every type has out-edges at every "
    "test SF); the general redistribute term is documented out, not "
    "silently wrong — a node with no in-edges still gets the reset "
    "term via the LEFT join's COALESCE.",
    tags=("events", "graph", "agg", "stats"),
)
def behavior_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    edges = pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    return pagerank_ranks(nodes, edges)


def pagerank_ranks(nodes_in: DataFrame, edges: DataFrame) -> DataFrame:
    """The K-step power iteration over an aggregated (src, dst, w)
    edge table and a node table — the shared tail of
    `behavior_pagerank` (edges from the batch lag window) and
    `behavior_pagerank_stream` (edges from the keyed-state transition
    operator): same expression tree, so both share one chained-CTE
    oracle.

    PRECONDITION (guarded): every node must have at least one
    out-edge. This helper deliberately omits the dangling-mass
    redistribute term — on a dangling-free graph the term is exactly
    0 and both certified oracles mirror the omission — so on a graph
    WITH dangling nodes it would silently leak rank mass instead.
    The guard raises rather than mis-rank; callers with dangling
    nodes want :func:`~..operators.graph.pagerank_partitioned`, which
    carries the redistribute term (and the corpus-scale join
    strategy). The check is one left-anti count over the two already
    1-partition-cached type-sized frames — sub-millisecond here,
    and exactly the invariant a wider reuse would violate first."""
    from ..operators.cache import scoped_persist

    # deg derives FROM edges: rename its key before the rejoin so the
    # self-referential lineage never hits Spark's conflicting-
    # references resolver (it does, with a replay-sourced edge frame)
    deg = (
        edges.groupBy("src")
        .agg(F.sum("w").alias("deg"))
        .withColumnRenamed("src", "_deg_src")
    )
    # the graph is entity-type-sized from here: 1-partition cached
    # frames so the K iteration stages schedule one task each instead
    # of a vanilla session's 200 (the replay-commit-cost lesson). At
    # web scale (node set = corpus-sized) the same loop drops the
    # coalesce/broadcasts and co-partitions ranks with edges on src —
    # the shape is unchanged, only the join strategy flips.
    nrm = scoped_persist(
        edges.join(deg, F.col("src") == F.col("_deg_src"))
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("deg").cast("double")).alias("p"),
        )
        .coalesce(1)
    )
    nodes = scoped_persist(nodes_in.coalesce(1))
    dangling = nodes.join(
        nrm.select(F.col("src").alias("node")).distinct(), "node", "left_anti"
    )
    n_dangling = dangling.count()
    if n_dangling:
        names = [r["node"] for r in dangling.limit(5).collect()]
        raise ValueError(
            f"pagerank_ranks: {n_dangling} node(s) without out-edges "
            f"(e.g. {names}); this helper drops dangling rank mass by "
            "design — use operators.graph.pagerank_partitioned, which "
            "redistributes it."
        )
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    d, reset = float(PAGERANK_D), float(PAGERANK_RESET)
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            nrm.join(
                F.broadcast(ranks.select(F.col("node").alias("src"), "pr")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(exact_sum(F.col("pr") * F.col("p")).alias("s"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(F.broadcast(contrib), "node", "left")
            .select(
                "node",
                (
                    F.lit(reset) / F.col("n")
                    + F.lit(d) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.select(
        F.col("node").alias("event_type"), F.col("pr").alias("pagerank")
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH m AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS viewed,
           COUNT(*) FILTER (WHERE t_click > t_view) AS clicked_after_view,
           COUNT(*) FILTER (WHERE t_purchase > t_click AND t_click > t_view)
             AS purchased_after_click
    FROM m
    """,
    doc="Strict view->click->purchase funnel — the conversion rollup an "
    "e-commerce warehouse derives from the same behavior stream the "
    "reference splits in BaseLogApp: first-touch per stage via "
    "conditional MIN (one grouped aggregate, map-side partial), stage "
    "membership = strictly-ordered first-touch chain. NULL timestamps "
    "fall out of the comparisons identically in both engines.",
    tags=("events", "agg", "funnel"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    m = t["events"].groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return m.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("clicked_after_view"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click")) & (F.col("t_click") > F.col("t_view")), 1
            )
        ).alias("purchased_after_click"),
    )


def funnel_chain_batch(
    ev: DataFrame, stages: list[str], probe_type: str = "purchase"
) -> DataFrame:
    """K-link last-touch funnel attribution as chained as-of joins —
    the batch twin of streaming/stateful.funnel_chain_n (r11 VERDICT
    #5: the 3-stage query lifted into an operator). ``stages`` lists
    the earlier funnel stages in order; each link is ONE sorted-union
    fill (one user_id exchange + per-key sort — asof_join's shape, no
    range-join fan-out), so a K-stage funnel is K linear passes at
    any scale. Returns the probe rows (event_id, user_id, ts) with a
    ``{stage}_ts`` column per stage, NULL suffix where the chain ran
    out. Stage ties pre-aggregate via distinct (the asof_join
    contract)."""
    from ..operators.joins import asof_join

    cur = None
    prev_cols: list[str] = []
    for s in stages:
        rows = (
            ev.filter(F.col("event_type") == s).select("user_id", "ts").distinct()
        )
        if cur is None:
            cur = rows.select("user_id", "ts", F.col("ts").alias(f"{s}_ts"))
        else:
            cur = asof_join(rows, cur, on=["user_id"], ts_col="ts", how="left").select(
                "user_id", "ts", F.col("ts").alias(f"{s}_ts"), *prev_cols
            )
        prev_cols = [f"{s}_ts", *prev_cols]
    probe = ev.filter(F.col("event_type") == probe_type).select(
        "event_id", "user_id", "ts"
    )
    return asof_join(probe, cur, on=["user_id"], ts_col="ts", how="left")


def funnel_depth(stages: list[str]) -> "F.Column":
    """depth = deepest resolved link + 1 (chain NULLs are monotone:
    once a link is NULL every earlier one is too)."""
    expr = None
    for i, s in enumerate(stages):  # deepest (earliest stage) first
        cond = F.col(f"{s}_ts").isNotNull()
        lvl = F.lit(len(stages) + 1 - i)
        expr = F.when(cond, lvl) if expr is None else expr.when(cond, lvl)
    return expr.otherwise(F.lit(1))


_SQL_FUNNEL_ATTR = """
    WITH v AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'view'),
    c0 AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'),
    c AS (
      SELECT c0.user_id, c0.ts AS click_ts, v.ts AS view_ts
      FROM c0 ASOF LEFT JOIN v ON c0.user_id = v.user_id AND v.ts <= c0.ts
    ),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.click_ts, c.view_ts,
           CASE WHEN c.view_ts IS NOT NULL THEN 3
                WHEN c.click_ts IS NOT NULL THEN 2 ELSE 1 END AS depth
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts
    """


@register(
    "funnel_attribution",
    oracle=_SQL_FUNNEL_ATTR,
    doc="Multi-step funnel ATTRIBUTION — per purchase, the user's last "
    "click at or before it, and for THAT click the last view at or "
    "before the click (last-touch attribution down a 3-stage funnel; "
    "funnel_conversion is the aggregate twin, this is the per-event "
    "lineage an attribution pipeline materializes). Built as the "
    "COMPOSITION of two chained asof_joins: views resolve per CLICK "
    "first (click-level enrichment), then purchases as-of join the "
    "enriched clicks — each link one sorted-union fill (one user_id "
    "exchange + per-key sort, no range-join fan-out), so the chain "
    "is two linear passes at any scale. depth = how far up the "
    "funnel the purchase resolves (3 full chain / 2 click only / 1 "
    "bare). Stage ties pre-aggregate via distinct, the asof_join "
    "contract. Oracle: the identical chain in DuckDB native ASOF "
    "LEFT JOINs.",
    tags=("events", "join", "asof", "funnel"),
)
def funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    out = funnel_chain_batch(ev, ["view", "click"])
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_ts",
        "view_ts",
        funnel_depth(["view", "click"]).alias("depth"),
    )


# Flink CEP's within() clause, batchified: a link only counts if the
# later stage fired inside the lookback window — the industry
# attribution rule (stale last-touch = no touch). Windows in whole
# seconds compared as native timestamp differences (ts - ts <=
# INTERVAL 'n' SECOND, exact integer micros under the hood in both
# engines; the fixture timestamps are NTZ, which unix_micros rejects
# and a TZ cast would expose to the vanilla session's local zone).
FUNNEL_W_CLICK_S = 21_600  # purchase looks back 6 h to its click
FUNNEL_W_VIEW_S = 86_400  # click looks back 24 h to its view
# (6 h / 24 h sized to the fixture's event spread so every depth class
# is populated at the correctness SFs — 131 window-fresh clicks and 78
# full chains survive at sf0.01 where 15-min windows void everything;
# production tunes these to the product's session economics)

_SQL_FUNNEL_ATTR_WINDOWED = f"""
    WITH v AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'view'),
    c0 AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'),
    c AS (
      SELECT c0.user_id, c0.ts AS click_ts, v.ts AS view_ts
      FROM c0 ASOF LEFT JOIN v ON c0.user_id = v.user_id AND v.ts <= c0.ts
    ),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    chain AS (
      SELECT p.event_id, p.user_id, p.ts AS purchase_ts, c.click_ts, c.view_ts
      FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts
    ),
    win AS (
      SELECT event_id, user_id, purchase_ts,
             CASE WHEN click_ts IS NOT NULL
                   AND purchase_ts - click_ts
                       <= INTERVAL '{FUNNEL_W_CLICK_S}' SECOND
                  THEN click_ts END AS click_ts,
             CASE WHEN click_ts IS NOT NULL
                   AND purchase_ts - click_ts
                       <= INTERVAL '{FUNNEL_W_CLICK_S}' SECOND
                   AND view_ts IS NOT NULL
                   AND click_ts - view_ts
                       <= INTERVAL '{FUNNEL_W_VIEW_S}' SECOND
                  THEN view_ts END AS view_ts
      FROM chain
    )
    SELECT event_id, user_id, purchase_ts, click_ts, view_ts,
           CASE WHEN view_ts IS NOT NULL THEN 3
                WHEN click_ts IS NOT NULL THEN 2 ELSE 1 END AS depth
    FROM win
    """


def _windowed_funnel_select(out: DataFrame) -> DataFrame:
    """Apply the within-window link rule to a resolved 3-stage chain
    (batch funnel_chain_batch output or funnel_chain_n stream output
    with probe_ts already aliased to purchase_ts): a stale click
    voids BOTH links (depth is monotone down the chain); a fresh
    click with a stale view keeps the click link only."""
    click_ok = F.col("click_ts").isNotNull() & (
        (F.col("purchase_ts") - F.col("click_ts"))
        <= F.expr(f"INTERVAL '{FUNNEL_W_CLICK_S}' SECOND")
    )
    view_ok = (
        click_ok
        & F.col("view_ts").isNotNull()
        & (
            (F.col("click_ts") - F.col("view_ts"))
            <= F.expr(f"INTERVAL '{FUNNEL_W_VIEW_S}' SECOND")
        )
    )
    return out.select(
        "event_id",
        "user_id",
        "purchase_ts",
        F.when(click_ok, F.col("click_ts")).alias("click_ts"),
        F.when(view_ok, F.col("view_ts")).alias("view_ts"),
    ).select(
        "event_id",
        "user_id",
        "purchase_ts",
        "click_ts",
        "view_ts",
        F.when(F.col("view_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .otherwise(1)
        .alias("depth"),
    )


@register(
    "funnel_attribution_windowed",
    oracle=_SQL_FUNNEL_ATTR_WINDOWED,
    doc="Funnel attribution under Flink CEP's within() rule — each "
    "link only counts inside its lookback window (purchase finds its "
    "click within 6 h, the click its view within 24 h), the "
    "attribution-window semantics every ads/analytics pipeline "
    "applies to last-touch chains: a STALE latest click is no touch "
    "at all (the rule does not fall back to an older in-window "
    "click — last-touch, then gate), and a voided link voids "
    "everything deeper, keeping depth monotone. Composition: the "
    "same two chained sorted-union fills as funnel_attribution, then "
    "one map-side CASE comparing native timestamp differences to an "
    "INTERVAL literal (exact integer micros under the hood; "
    "unix_micros would reject the fixture's NTZ timestamps, and a TZ "
    "cast would expose the vanilla session's zone). Free at any "
    "scale: the windowing adds zero shuffles.",
    tags=("events", "join", "asof", "funnel", "cep"),
)
def funnel_attribution_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    out = funnel_chain_batch(ev, ["view", "click"]).select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"), "click_ts", "view_ts"
    )
    return _windowed_funnel_select(out)


_SQL_FUNNEL_ATTR4 = """
    WITH s0 AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'signup'),
    v0 AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'view'),
    v AS (
      SELECT v0.user_id, v0.ts AS view_ts, s0.ts AS signup_ts
      FROM v0 ASOF LEFT JOIN s0 ON v0.user_id = s0.user_id AND s0.ts <= v0.ts
    ),
    c0 AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'click'),
    c AS (
      SELECT c0.user_id, c0.ts AS click_ts, v.view_ts, v.signup_ts
      FROM c0 ASOF LEFT JOIN v ON c0.user_id = v.user_id AND v.view_ts <= c0.ts
    ),
    p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           c.click_ts, c.view_ts, c.signup_ts,
           CASE WHEN c.signup_ts IS NOT NULL THEN 4
                WHEN c.view_ts IS NOT NULL THEN 3
                WHEN c.click_ts IS NOT NULL THEN 2 ELSE 1 END AS depth
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.ts
    """


@register(
    "funnel_attribution_4",
    oracle=_SQL_FUNNEL_ATTR4,
    doc="FOUR-stage funnel attribution (signup -> view -> click -> "
    "purchase) through the generalized K-link chain builder "
    "(funnel_chain_batch, r11 VERDICT #5): per purchase, the last "
    "click at or before it; for that click the last view; for that "
    "view the last signup — each link bound at the later stage, so "
    "depth reads how much of the ACTIVATED-user journey the purchase "
    "resolves (4 = signed-up browse-to-buy, 1 = bare). Three chained "
    "sorted-union fills, each one user_id exchange — K stages stay K "
    "linear passes at 100 TB, never a K-way range join. Oracle: the "
    "identical chain as three DuckDB native ASOF LEFT JOINs, shared "
    "verbatim with the streaming twin.",
    tags=("events", "join", "asof", "funnel"),
)
def funnel_attribution_4(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    stages = ["signup", "view", "click"]
    out = funnel_chain_batch(ev, stages)
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_ts",
        "view_ts",
        "signup_ts",
        funnel_depth(stages).alias("depth"),
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firstd AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ),
    act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
    SELECT strftime(firstd.d0, '%Y-%m-%d') AS cohort,
           datediff('day', firstd.d0, act.d) AS day_n,
           COUNT(*) AS active_users
    FROM firstd JOIN act USING (user_id)
    GROUP BY firstd.d0, datediff('day', firstd.d0, act.d)
    """,
    doc="Retention cohort matrix — first-activity day as the cohort key "
    "(the same first-visit state UniqueVisitApp keeps, RT/app/dwm/"
    "UniqueVisitApp.java:41-84, aggregated instead of streamed): one "
    "grouped MIN for cohorts, one distinct-projection for activity, an "
    "id-keyed join, one rollup shuffle. Cohort serialized as a date "
    "string so both engines hash identical values.",
    tags=("events", "agg", "cohort"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "events")
    ev = t["events"].select("user_id", F.col("ts").cast("date").alias("d"))
    firstd = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    act = ev.distinct()
    return (
        firstd.join(act, "user_id")
        .groupBy(
            F.date_format("d0", "yyyy-MM-dd").alias("cohort"),
            F.datediff("d", "d0").alias("day_n"),
        )
        .agg(F.count("*").alias("active_users"))
    )


@register(
    "asof_click_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, MAX(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    p AS (
      SELECT event_id, user_id, ts AS purchase_ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.purchase_ts, p.purchase_value,
           c.click_ts, c.click_value,
           date_diff('microsecond', c.click_ts, p.purchase_ts) AS gap_us
    FROM p ASOF JOIN clicks c
      ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
    """,
    doc="Backward AS-OF join — last-click attribution: every purchase "
    "picks up the user's LATEST click at or before it (the "
    "trade-joins-quote operator; DuckDB spells the oracle with its "
    "native ASOF JOIN). The Spark side is operators/joins.asof_join's "
    "sorted-union last-value fill: one hash exchange on user_id, one "
    "per-key sort, a running ignore-nulls last() — never a "
    "range-predicate join that would fan a hot user out clicks x "
    "purchases. Simultaneous clicks are pre-aggregated to one row per "
    "(user, ts) on both engines, making the match deterministic; the "
    "gap rides exact integer microseconds.",
    tags=("events", "join", "asof"),
)
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join

    t = load_tables(spark, sf_dir, "events")
    ev = t["events"]
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .select("user_id", "ts", F.col("ts").alias("click_ts"), "click_value")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        asof_join(purchases, clicks, on=["user_id"], ts_col="ts")
        .select(
            "event_id",
            "user_id",
            "purchase_ts",
            "purchase_value",
            "click_ts",
            "click_value",
            # timestampdiff is TZ-free on the NTZ timestamps the parquet
            # carries (unix_micros would demand LTZ and a session TZ)
            F.expr("timestampdiff(MICROSECOND, click_ts, purchase_ts)").alias("gap_us"),
        )
    )


# Rolling-window width: 7 days in microseconds (the range frame runs
# over exact integer epoch-micros on both engines).
ROLL_7D_US = 7 * 24 * 3600 * 1_000_000


@register(
    "rolling_value_7d",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, ts, value, epoch_us(ts) AS mu
      FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_7d
    FROM p
    WINDOW w AS (PARTITION BY user_id ORDER BY mu
                 RANGE BETWEEN {ROLL_7D_US} PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing 7-day per-user purchase rollup — the RANGE-frame "
    "window (time-based, not row-based: the frame is every event in "
    "the preceding week, however many rows that is). Ordering rides "
    "exact integer epoch-microseconds so frame membership is "
    "bit-identical on both engines, and the sum decimal-accumulates "
    "inside the frame (functions/exact.py's trick in window form) so "
    "the emitted doubles match regardless of either engine's "
    "in-frame addition order. One hash exchange on user_id + one "
    "per-key sort — per-key state is the sliding frame, bounded by "
    "one week of that user's events.",
    tags=("events", "window", "stats"),
)
def rolling_value_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, "events")
    p = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            # epoch-micros order key, TZ-free on NTZ timestamps (the
            # DuckDB twin is epoch_us over the same naive values)
            F.expr(
                "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)"
            ).alias("mu"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("mu")
        .rangeBetween(-ROLL_7D_US, W.currentRow)
    )
    return p.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_7d"),
        F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double").alias("sum_7d"),
    )
