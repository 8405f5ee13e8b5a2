"""Streaming pipelines — the reference's job topology, Spark-first.

One function per app, each wiring named channels (the Kafka-topic IR)
through the pure operators in ``operators/``. The warehouse jobs are
independently runnable (read channel, write channel) query pairs,
which preserves the reference's topic-per-layer decoupling:

- :func:`base_log_app`   — BaseLogApp (RT/app/dwd/BaseLogApp.java:25-161):
  parse + dead-letter, stateful is_new fix, 3-way split, multi-sink.
- :func:`base_db_app`    — BaseDbApp (RT/app/dwd/BaseDbApp.java:24-94):
  CDC envelope in, delete filter, broadcast-config routing, dim MERGE
  (K3/K4) + dynamic-topic fact sink (K2).
- :func:`order_wide_app`, :func:`payment_wide_app` — OrderWideApp /
  PaymentWideApp (RT/app/dwm/OrderWideApp.java:21-99,
  PaymentWideApp.java:24-96): watermarked stream-stream interval joins
  + broadcast dim enrichment (the reference's TODO 5/6).
- :func:`unique_visit_app`, :func:`user_jump_detail_app` — the DWM
  keyed-state jobs (``stateful.py``).
- :func:`visitor_stats_app`, :func:`visitor_stats_union_app`,
  :func:`product_stats_app`, :func:`session_window_app` — the DWS
  windowed aggregations the beans specify (RT/bean/VisitorStats.java).
- :func:`doc_dedup_app`, :func:`doc_quality_gate_app` — ingest gates on
  Spark's native watermarked ``dropDuplicates`` state.

Channel apps. These twelve apps take only their channel names (the
topic IR), a checkpoint root and, where the reference has one, a dim
list; every other setting is a module constant shared with its batch
twin where one exists:

- Constants: :data:`JOIN_WATERMARK` bounds the interval joins' state,
  :data:`WATERMARK` the windows', session windows' and digest dedup's;
  :data:`WINDOW` is the DWS tumbling window; the join bounds are
  :data:`ORDER_DETAIL_BOUNDS` and :data:`PAYMENT_ORDER_BOUNDS`; the
  session gap is ``plans.logs.SESSION_GAP_MIN`` and the front gate's
  thresholds are ``plans.llmprep.STOP_MIN`` / ``QUALITY_MIN``.
- Each stream plan is spelled once: ``_interval_join`` (the DWM
  joins), :func:`window_agg` (the DWS windows and their replay twins),
  :func:`session_window_agg` and ``_digest_dedup``.
- Driving-side ``ts``: an interval join keeps its driving side's
  ``ts`` and renames only the joined side's (``d_ts``, ``w_ts``), so
  ``dwm_order_wide`` carries the order's ``ts`` and
  :func:`payment_wide_app` can tail :func:`order_wide_app`'s output.
- Enrichment: ``dims`` is :func:`~..operators.joins.dim_enrich`'s
  ``[(dim_df, join_cond, projected_cols), ...]``, each dim broadcast
  and left-joined.

Checkpointing (X4): every query takes a checkpoint root; Spark resumes
from it — the analogue of the reference's (commented-out) Flink
checkpoint config.

Epoch-addressed stores. Fourteen foreachBatch apps keep their state
as ``epoch=<id>`` directories: the incremental dedup/similarity apps
(``doc_incremental_dedup``, ``substring_dedup``, ``similarity_graph``,
``emb_incremental_dedup``), the bootstrap-fit apps (``decon_screen``,
``triplet_mine``, ``ptron_gate``) and the sketches (``cms_sketch``,
``bloom_filter``, ``hll_sketch``, ``lm_counts``, ``dsir_grid``,
``events_rollup``, ``hist_sketch``). Each store's merge is written
once, in :data:`STORE_MERGES` (a store not named there is a set,
merged by ``distinct()``), and :func:`fold_store` applies it for every
caller: :func:`merged_store` and the readers that derive from it,
:func:`compact_signature_store`, which folds old epochs into one base
generation, and ``substring_dedup``'s in-epoch index fold. All
fourteen keep one contract,
the epoch-keyed idempotent sink of exactly-once Structured Streaming,
implemented once by ``_epoch_query``, :class:`EpochScope` and
``_bootstrap_fit``:

- Crash rule: an epoch writes only its own ``epoch=<id>`` directories,
  with overwrite. A foreachBatch retry, or a redelivery after a
  checkpoint rewind, runs with the same id and rewrites them instead of
  appending a second copy, so a replayed batch never double-counts and
  a poisoned half-written attempt never survives the restart.
- Reads: an epoch reads its stores through :func:`read_epoch_store`,
  pruned to ``epoch < current``, so a half-written current epoch never
  feeds its own decision.
- Lineage cut: a frame whose plan scans a store the epoch is about to
  write is ``localCheckpoint``-ed before any store write. Without the
  cut, the writes invalidate cached file listings and the frame is
  recomputed against a store that already holds the batch.
- Release: on exit, success or failure, the epoch releases every frame
  it persisted or checkpointed, and its stream-owned cache scope drains
  the ``scoped_persist`` guards it created.
- Bootstrap-fit redelivery: pre-fit epochs stash their rows. The epoch
  whose cumulative arrival reaches the fit target fits on the backlog,
  writes the model, then a ``_FIT_EPOCH`` marker (atomic rename),
  scrubs its own stash dir and scores the whole backlog. A redelivered
  fit epoch is detected through the marker and scores the backlog with
  the stored model, which equals the deterministic refit bit-for-bit;
  a pre-fit epoch scrubs its own output dir before stashing.
"""

from __future__ import annotations

import json
import os
import uuid

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.exact import _DEC as _EXACT_DEC, exact_sum
from ..operators import classifier as PC, dedup as D, lm, similarity as S, textops
from ..operators.aggregates import cms_counters, hist_counters, hll_registers
from ..operators.cache import cache_scope
from ..operators.filters import filter_deletes
from ..operators.joins import dim_enrich, interval_join
from ..operators.parse import explode_with_parent, parse_json_dead_letter, project_map_columns
from ..operators.routing import route_by_config, split_by_sink_type, split_stream
from ..operators.similarity import kmeans_fit
from ..operators.textops import tokenize
from ..plans.llmprep import QUALITY_MIN, STOP_MIN
from ..plans.logs import SESSION_GAP_MIN
from ..plans.similarity import (
    DECON_COS_T,
    FIT_PER_CLUSTER,
    KM_FIT_N,
    KM_ITERS,
    KM_K,
    N_PROBES,
    SEMDEDUP_MAX_CLUSTER,
    SEMDEDUP_T,
    _semdedup_k,
)
from ..schemas import BEHAVIOR_LOG
from ..session import local_table
from ..sources import fs as hfs
from ..sources.dimstore import DimStore
from ..sources.registry import ChannelRegistry
from . import stateful


#: Event-time constants of the channel apps. The interval joins hold
#: each side's rows for their bounds plus JOIN_WATERMARK; the windows,
#: the session windows and the digest dedup hold state for WATERMARK.
JOIN_WATERMARK = "10 seconds"
WATERMARK = "1 hour"
#: the DWS tumbling window (RT/bean/VisitorStats.java)
WINDOW = "1 hour"
#: (lower, upper) interval bounds around the driving side's ``ts``:
#: OrderWideApp.java:80-89 and PaymentWideApp.java:76-85
ORDER_DETAIL_BOUNDS = ("5 SECONDS", "5 SECONDS")
PAYMENT_ORDER_BOUNDS = ("15 MINUTES", "5 SECONDS")


def base_log_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    source: str = "ods_base_log",
    props_schema=None,
):
    """ODS log -> dead-letter + start/page/display channels.

    The default path is the AUTHENTIC nested behavior-log shape
    (BaseLogApp.java:99-151 over ``schemas.BEHAVIOR_LOG``): each record
    is one JSON line in the ``log`` column; unparseable lines go to the
    dead letter; records carrying a ``start`` object are start logs;
    everything else is a page log; and a page record's ``displays[]``
    fans out 1->N with the parent (page_id, ts) stamped on every
    element — the reference's side-output trio, with
    ``explode_with_parent`` playing the displays loop of
    BaseLogApp.java:120-140.

    ``props_schema`` selects the legacy fixture-shaped split instead
    (flat ``event_type`` predicates over the events fixture, payload in
    a ``props`` column) — test-only config kept for the downstream
    replay tests that feed that shape.

    Either way the split runs inside one ``foreachBatch`` with the
    batch persisted, keeping the reference's strict one-pass
    side-output semantics — otherwise each sink would re-read the
    source.
    """
    src = reg.read_stream(spark, source, max_files_per_trigger=1)

    def process_nested(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            clean, dirty = parse_json_dead_letter(batch, "log", BEHAVIOR_LOG, out="data")
            reg.write_batch(dirty, "dirty_log")
            clean = clean.select("data.*").persist()
            start = clean.filter(F.col("start").isNotNull()).select(
                "common.*", "start.*", "ts"
            )
            reg.write_batch(start, "dwd_start_log")
            pages = clean.filter(F.col("start").isNull())
            reg.write_batch(pages.select("common.*", "page.*", "ts"), "dwd_page_log")
            displays = explode_with_parent(
                pages.select(
                    F.col("common.mid").alias("mid"), "page", "displays", "ts"
                ),
                "displays",
                {"page_id": F.col("page.page_id")},
                out="display",
            ).select("mid", "display.*", "page_id", "ts")
            reg.write_batch(displays, "dwd_display_log")
            clean.unpersist()
        finally:
            batch.unpersist()

    def process_fixture(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            clean, dirty = parse_json_dead_letter(batch, "props", props_schema, out="data")
            branches = split_stream(
                clean,
                {
                    "dwd_start_log": F.col("event_type") == "signup",
                    "dwd_page_log": F.col("event_type").isin("view", "click"),
                    "dwd_display_log": ~F.col("event_type").isin("signup", "view", "click"),
                },
            )
            reg.write_batch(dirty, "dirty_log")
            for name, df in branches.items():
                reg.write_batch(df.withColumn("k", F.col("data.k")).drop("data"), name)
        finally:
            batch.unpersist()

    process = process_fixture if props_schema is not None else process_nested
    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(ckpt, "base_log_app"))
        .start()
    )


def base_db_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    dim_store: DimStore,
    config_df,
    ckpt: str,
    source: str = "ods_base_db",
):
    """CDC dispatch: envelope stream x broadcast config -> dynamic-topic
    fact channel + dim MERGE.

    ``config_df`` is a DataFrame (static config) or a ZERO-ARG CALLABLE
    returning one — the table_process CONFIG STREAM (the reference
    tails it with FlinkCDC into broadcast state,
    RT/app/dwd/BaseDbApp.java:63-75).

    - A static DataFrame is read ONCE, when the app starts, into a
      JVM-local relation (:func:`..session.local_table`): the routing
      join re-plans against its static side every micro-batch, and a
      config scanned through Python workers would cost a job per epoch.
      Later changes to the data behind that DataFrame are not seen.
    - A provider is re-evaluated at every micro-batch, so a config
      mutation — including K4's ``extend`` case, a sinkColumns update
      ADDING a column to an existing dim — takes effect from the next
      micro-batch, exactly Flink's broadcast-state eventual consistency.

    Schema evolution downstream is free by construction: the MERGE
    creates a missing table (K4) and its
    ``unionByName(allowMissingColumns=True)`` widens the stored table
    with a new column (existing rows read NULL — the ALTER TABLE ADD
    COLUMN semantics; ``dim_schema_evolution`` certifies the end-to-end
    path). The fact branch carries a ``topic`` column (K2's per-record
    dynamic topic); the dim branch MERGEs into the keyed store (K3).
    """
    if not callable(config_df):
        static_cfg = local_table(spark, config_df.collect(), config_df.schema)
    src = reg.read_stream(spark, source, max_files_per_trigger=1)

    def process(batch: DataFrame, epoch_id: int) -> None:
        cfg = config_df() if callable(config_df) else static_cfg
        # Stamp source-arrival order BEFORE any join/shuffle: downstream
        # the routing broadcast-join can reorder rows, so a sequence
        # derived later would not be last-writer-wins anymore. Only
        # `routed` is persisted: every branch below reads it, none reads
        # `batch` again.
        live = filter_deletes(batch.withColumn("_seq", F.monotonically_increasing_id()))
        routed = route_by_config(live, F.broadcast(cfg))
        routed = project_map_columns(routed, "after", "sinkColumns").persist()
        try:
            branches = split_by_sink_type(routed)
            # K2: dynamic-topic fact sink — topic is a per-record column
            fact = branches["kafka"].select(
                F.col("sinkTable").alias("topic"),
                F.to_json(F.col("after")).alias("value"),
            )
            reg.write_batch(fact, "dwd_fact_log")
            # K3/K4: per-sink-table dim upsert. ONE driver round-trip for
            # the (config-sized) routing targets; _all_keys is the
            # fallback column list for routes with NULL sinkColumns.
            dim_targets = (
                branches["dim"]
                .groupBy("sinkTable", "sinkPk", "sinkColumns")
                .agg(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list(F.map_keys("after"))))
                    ).alias("_all_keys")
                )
                .collect()
            )
            for row in dim_targets:
                dim_rows = branches["dim"].filter(F.col("sinkTable") == row["sinkTable"])
                pk = row["sinkPk"] or "id"
                # flatten the map to columns declared in sinkColumns
                # (falling back to the observed key set when NULL)
                cols = (
                    row["sinkColumns"].split(",")
                    if row["sinkColumns"]
                    else list(row["_all_keys"])
                )
                dim_flat = dim_rows.select(
                    *[F.col("after").getItem(c).alias(c) for c in cols], "_seq"
                )
                dim_store.merge(spark, dim_flat, row["sinkTable"], pk, seq_col="_seq")
        finally:
            routed.unpersist()

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(ckpt, "base_db_app"))
        .start()
    )


def _interval_join(
    spark: SparkSession, reg: ChannelRegistry, drive: str, other: str, ts_as: str, on, bounds
) -> DataFrame:
    """The DWM interval join: tail the ``drive`` and ``other`` channels
    one file per trigger, watermark both by :data:`JOIN_WATERMARK`,
    rename ``other``'s ``ts`` to ``ts_as`` and keep its rows whose time
    lies within ``bounds`` = (lower, upper) of the driving ``ts``."""
    left, right = (
        reg.read_stream(spark, ch, max_files_per_trigger=1).withWatermark("ts", JOIN_WATERMARK)
        for ch in (drive, other)
    )
    lower, upper = bounds
    return interval_join(
        left,
        right.withColumnRenamed("ts", ts_as),
        on=on,
        left_ts=F.col("ts"),
        right_ts=F.col(ts_as),
        lower=lower,
        upper=upper,
    )


def order_wide_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    order_channel: str = "dwd_order_info",
    detail_channel: str = "dwd_order_detail",
    out_channel: str = "dwm_order_wide",
    dims=(),
):
    """Watermarked stream-stream interval join (J1) + broadcast dim
    enrichment (J3) -> wide channel. A detail joins its order when its
    ``d_ts`` lies within :data:`ORDER_DETAIL_BOUNDS` of the order's
    ``ts``; ``dims`` is :func:`~..operators.joins.dim_enrich`'s list.

    Both sides carry watermarks so the join state is bounded to the
    interval + watermark delay (W1: the reference uses monotonic
    watermarks = zero lateness; ours allows :data:`JOIN_WATERMARK`).
    """
    joined = _interval_join(
        spark, reg, order_channel, detail_channel, "d_ts",
        F.col("order_id") == F.col("detail_order_id"), ORDER_DETAIL_BOUNDS,
    )
    return reg.write_stream(dim_enrich(joined, dims), out_channel, ckpt)


def unique_visit_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    source: str = "dwd_page_log",
    out_channel: str = "dwm_unique_visit",
):
    """F2 as a job — UniqueVisitApp (RT/app/dwm/UniqueVisitApp.java:
    24-92): tail the page channel, emit the first visit per user per
    calendar day via the exact keyed-state operator, publish to the
    unique-visit channel. Starts under :func:`stateful.state_fanout`."""
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    with stateful.state_fanout(spark):
        return reg.write_stream(stateful.daily_dedup(src), out_channel, ckpt)


def user_jump_detail_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    source: str = "dwd_page_log",
    out_channel: str = "dwm_user_jump_detail",
):
    """U2 as a job — the reference's planned CEP bounce job (empty stub
    RT/app/dwm/UserJumpDetailApp.java; flink-cep dep declared): close a
    session when the ``SESSION_GAP_MIN`` gap passes or state times out;
    1-event sessions are bounces. Starts under
    :func:`stateful.state_fanout`."""
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    with stateful.state_fanout(spark):
        return reg.write_stream(
            stateful.sessionize_bounce(src, gap_minutes=SESSION_GAP_MIN), out_channel, ckpt
        )


def payment_wide_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    payment_channel: str = "dwd_payment_info",
    order_wide_channel: str = "dwm_order_wide",
    out_channel: str = "dwm_payment_wide",
):
    """J2 — payment ⋈ order_wide with asymmetric bounds
    (:data:`PAYMENT_ORDER_BOUNDS`): the order's ``ts``, renamed
    ``w_ts``, may precede the payment's by up to 15 minutes and follow
    it by at most 5 seconds (RT/app/dwm/PaymentWideApp.java:76-85).
    Tailing ``order_wide_app``'s own output channel keeps the
    reference's topic-decoupling between the two DWM jobs."""
    joined = _interval_join(
        spark, reg, payment_channel, order_wide_channel, "w_ts",
        F.col("payment_order_id") == F.col("order_id"), PAYMENT_ORDER_BOUNDS,
    )
    return reg.write_stream(joined, out_channel, ckpt)


def window_agg(df: DataFrame, keys, *aggs, window=(WINDOW,)) -> DataFrame:
    """The DWS window aggregate: ``ts`` watermarked by
    :data:`WATERMARK`, ``aggs`` per event-time ``window`` (the
    ``F.window`` duration[, slide]) x ``keys``, each window's bounds
    stamped as ``stt`` / ``edt`` strings ahead of the keys and
    measures. Append mode emits a window once the watermark passes its
    end."""
    agg = (
        df.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", *window).alias("w"), *keys)
        .agg(*aggs)
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        *agg.columns[1:],
    )


def visitor_stats_union_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    page_channel: str = "dwd_page_log",
    uv_channel: str = "dwm_unique_visit",
    jump_channel: str = "dwm_user_jump_detail",
    out_channel: str = "dws_visitor_stats_union",
):
    """A1 in the reference's exact wiring: several pre-shaped streams
    (page views / deduped unique visitors / bounce flags) are unioned —
    one measure column "hot" per source, the rest zero-filled
    (RT/bean/VisitorStats.java's one-constructor-per-stream pattern) —
    then reduced in one tumbling window. The union is free at the
    shuffle: every measure partial-aggregates map-side."""
    l0, d0 = F.lit(0).cast("long"), F.lit(0.0)

    def shaped(df, ts_col, pv=l0, uv=l0, uj=l0, dur=d0):
        return df.select(
            F.col(ts_col).alias("ts"),
            pv.alias("pv"), uv.alias("uv"), uj.alias("uj"), dur.alias("dur"),
        )

    one = F.lit(1).cast("long")
    # no per-trigger file throttle here: the three channels have
    # different file/event-time densities, and the unioned stream has a
    # SINGLE watermark — throttling would let one source race the
    # watermark ahead while another still replays older event times,
    # turning its rows late. Consuming all available files per trigger
    # keeps the watermark behind every source's unprocessed data (the
    # Kafka analogue: offsets are consumed roughly time-aligned).
    page = reg.read_stream(spark, page_channel)
    uvs = reg.read_stream(spark, uv_channel)
    jumps = reg.read_stream(spark, jump_channel)
    unioned = (
        shaped(page, "ts", pv=one, dur=F.col("value"))
        .unionByName(shaped(uvs, "ts", uv=one))
        .unionByName(shaped(jumps.filter(F.col("is_bounce")), "end_ts", uj=one))
    )
    agg = window_agg(
        unioned,
        [],
        F.sum("pv").alias("pv_ct"),
        F.sum("uv").alias("uv_ct"),
        F.sum("uj").alias("uj_ct"),
        F.sum("dur").alias("dur_sum"),
    )
    return reg.write_stream(agg, out_channel, ckpt)


def visitor_stats_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    source: str = "dwd_page_log",
    out_channel: str = "dws_visitor_stats",
):
    """DWS windowed aggregation (A1): tumbling event-time window x
    dimension with watermark-bounded state; append mode emits each
    window once finalized — the streaming twin of visitor_stats_hourly."""
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    agg = window_agg(
        src,
        ["event_type"],
        F.count("*").alias("pv_ct"),
        F.approx_count_distinct("user_id").alias("uv_ct_approx"),
        F.sum("value").alias("value_sum"),
    )
    return reg.write_stream(agg, out_channel, ckpt)


def product_stats_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    dims,
    source: str = "dwd_order_detail",
    out_channel: str = "dws_product_stats",
):
    """A2 as a job — ProductStats (RT/bean/ProductStats.java:21-87):
    tail the order-detail channel, enrich it with the broadcast product
    dim (``dims``, :func:`~..operators.joins.dim_enrich`'s list, which
    must supply ``p_brand``), aggregate per tumbling window x brand. The
    reference's ``Set<order_id>`` accumulator maps to
    approx_count_distinct — constant state per group (HLL sketch), the
    only formulation whose streaming state survives unbounded keys; its
    exact batch twin is the value-checked ``product_stats`` catalog
    query.
    """
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    agg = window_agg(
        dim_enrich(src, dims),
        ["p_brand"],
        F.approx_count_distinct("order_id").alias("order_ct_approx"),
        # decimal-accumulated: incremental (per-micro-batch) addition
        # order then matches any one-shot batch twin bit-for-bit
        exact_sum(F.col("quantity")).alias("sku_num"),
        exact_sum(F.col("amount")).alias("order_amount"),
        F.count("*").alias("line_ct"),
    )
    return reg.write_stream(agg, out_channel, ckpt)


def session_window_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    source: str = "dwd_page_log",
    out_channel: str = "dws_session_stats",
):
    """Native session-window aggregation — the streaming form of the
    batch ``session_stats`` query (and the windowed generalization of
    the U2 bounce sessionizer): Spark merges events within
    ``SESSION_GAP_MIN`` of each other into one growing session window
    per user; the watermark closes a session once no mergeable event
    can arrive, and append mode emits it exactly once. State per key is
    one open window — the same bound as the reference's keyed session
    state.

    Boundary semantics: an event arriving exactly the gap after the
    previous one starts a NEW session (Spark merges only strictly
    overlapping session windows), while the batch ``sessionize`` twin
    keeps it in the same session (gap > threshold splits) — the two
    agree everywhere except that zero-measure boundary."""
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    return reg.write_stream(session_window_agg(src), out_channel, ckpt)


def session_window_agg(src: DataFrame) -> DataFrame:
    """The session-window transformation of :func:`session_window_app`,
    factored out so replay queries can run the identical stream plan."""
    return (
        src.withWatermark("ts", WATERMARK)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            # decimal-accumulated: micro-batch incremental addition
            # order then matches the one-shot batch twin bit-for-bit
            exact_sum(F.col("value")).alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def _digest_dedup(df: DataFrame) -> DataFrame:
    """First arrival per ``text`` digest (``text_hash``), kept by
    Spark's native ``dropDuplicates`` state, which :data:`WATERMARK`
    bounds."""
    return (
        df.withColumn("text_hash", F.md5(F.col("text")))
        .withWatermark("ts", WATERMARK)
        .dropDuplicates(["text_hash"])
    )


def doc_dedup_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    source: str = "ods_documents",
    out_channel: str = "dwd_documents_unique",
):
    """Ingest-time exact dedup of a document stream — the streaming
    twin of the batch `dedup_exact` keeper selection, built on Spark's
    NATIVE dedup state: `dropDuplicates` on the content digest with a
    watermark bounding state retention (duplicates arriving later than
    the watermark horizon are out of contract, exactly like the
    reference's TTL'd dedup state). First arrival wins — in a
    time-ordered replay that is the min-ts record per digest.
    """
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    return reg.write_stream(_digest_dedup(src), out_channel, ckpt)


def doc_quality_gate_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    source: str = "ods_documents",
    out_channel: str = "dwd_documents_quality",
):
    """Ingest-time corpus gating — the streaming face of the batch
    ``corpus_build`` gates: language (stopword ratio >= ``STOP_MIN``)
    and quality (>= ``QUALITY_MIN``) thresholds applied as MAP-ONLY
    expressions on the stream, then exact content dedup on the digest
    via Spark's native ``dropDuplicates`` with watermark-bounded state.
    Near-dup elimination stays in ``doc_incremental_dedup_app`` (the
    LSH path); this app is the cheap front gate a pipeline runs BEFORE
    signatures are ever computed, so the expensive stages only ever see
    documents that could survive. First arrival wins per digest, as in
    ``doc_dedup_app``.
    """
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    staged = textops.with_tokens(src)
    toks = F.col("toks")
    gated = (
        staged.withColumn("stop_ratio_v", textops.stop_ratio(toks))
        .withColumn("quality", textops.quality_score(toks, F.col("text")))
        .filter((F.col("stop_ratio_v") >= STOP_MIN) & (F.col("quality") >= QUALITY_MIN))
        .drop("toks", "stop_ratio_v")
    )
    return reg.write_stream(_digest_dedup(gated).drop("text_hash"), out_channel, ckpt)


_BASE_MANIFEST = "_superseded.json"


def superseded_epochs(sess: SparkSession, path: str) -> set[int]:
    """Epoch ids already folded into a COMMITTED base generation.

    Each compaction publishes, inside its new ``epoch=<gen>`` directory
    and through the SAME atomic rename that publishes the merged rows,
    a hidden ``_superseded.json`` naming the epoch ids it merged (the
    leading underscore keeps the file out of parquet partition
    discovery). Readers exclude those ids even while the merged
    directories are still on disk, so the commit point is the rename —
    NOT the post-rename deletes. A crash between the two therefore
    cannot double-count an ADDITIVE store (the CMS/histogram SUM
    merges; the idempotent max/min/or/distinct families never could):
    the next read skips the superseded dirs and the next compaction
    finishes the sweep. Only base generations (negative ids) carry
    manifests, so this scans at most #compactions tiny files."""
    sup: set[int] = set()
    for name in hfs.list_names(sess, path):
        if not name.startswith("epoch=-"):
            continue
        mf = os.path.join(path, name, _BASE_MANIFEST)
        if hfs.exists(sess, mf):
            sup.update(int(g) for g in json.loads(hfs.read_text(sess, mf)))
    return sup


def read_store(sess: SparkSession, path: str) -> DataFrame:
    """Read an epoch-addressed store with manifest-superseded
    generations excluded (an anti ``isin`` on the epoch partition
    column — pruned at planning, the skipped dirs are never opened).
    Every merged view, the incremental apps' pruned reads and the
    compactor itself go through this, so all of them observe a
    crashed compaction as if its deletes had completed."""
    df = sess.read.parquet(path)
    sup = superseded_epochs(sess, path)
    if sup:
        df = df.filter(~F.col("epoch").isin(sorted(sup)))
    return df


def read_epoch_store(sess: SparkSession, path: str, epoch_id: int) -> DataFrame:
    """Read an epoch-addressed store pruned to STRICTLY earlier epochs
    (partition pruning on the epoch=<id> dirs): a retried epoch never
    sees its own first-attempt output — the crash contract every
    epoch-store app and the compactor share."""
    return read_store(sess, path).filter(F.col("epoch") < epoch_id).drop("epoch")


#: The merge of every mergeable epoch store, keyed by sub-store name:
#: the cell keys, and per column the aggregate that folds a cell's
#: partial rows into one. Each merge is associative and keeps each
#: column's name and type, so a folded base generation and the live
#: epochs share one parquet directory and fold again with the same
#: result. A store not named here is a set of facts (signatures,
#: shingles, vectors, flags): its merge is ``distinct()``. So a new
#: store of partial aggregates MUST add its entry here: without one,
#: :func:`compact_signature_store` would ``distinct()`` it and collapse
#: equal partial rows of different epochs (two epochs' ``ct=3`` of one
#: cell would read 3, not 6). The parametrized compaction test in
#: ``tests/test_pipelines.py`` covers every entry; extend it too.
STORE_MERGES = {
    "cms_grid": (("i", "b"), {"ct": F.sum}),
    "hist_grid": (("event_type", "b"), {"ct": F.sum}),
    "dsir_grid": (("b",), {"ct": F.sum}),
    "lm_grams": (("w1", "g"), {"ct": F.sum}),
    "roll_grid": (("event_type", "h"), {"ct": F.sum, "vsum": F.sum}),
    "grid": (("lang",), {"total_ct": F.sum, "kept_ct": F.sum}),
    "bloom_words": (("w",), {"bits": F.bit_or}),
    "hll_regs": (("event_type", "j"), {"r": F.max}),
    "win_index": (("gh",), {"lo": F.min, "hi": F.max}),
}


def fold_store(df: DataFrame, sub: str) -> DataFrame:
    """Fold ``df``, rows of the store ``sub`` without the epoch column,
    to one row per cell with ``sub``'s :data:`STORE_MERGES` entry."""
    if sub not in STORE_MERGES:
        return df.distinct()
    keys, aggs = STORE_MERGES[sub]
    return df.groupBy(*keys).agg(*(agg(c).alias(c) for c, agg in aggs.items()))


def merged_store(spark: SparkSession, store_root: str, sub: str) -> DataFrame:
    """The live view of the store ``<store_root>/<sub>``: every epoch
    and base generation folded by :func:`fold_store`."""
    return fold_store(read_store(spark, os.path.join(store_root, sub)).drop("epoch"), sub)


class EpochScope:
    """One micro-batch of an epoch-store app. It pins what the epoch
    reads more than once and releases all of it on exit, success or
    failure, in reverse order:

    - :meth:`persist` — a frame the epoch reuses;
    - :meth:`checkpoint` — ``localCheckpoint``, the lineage cut taken
      before any store write. ``DataFrame.unpersist()`` does not reach
      a checkpoint's blocks (they would stay pinned until the JVM
      garbage-collects the RDD), so the release unpersists its RDD;
    - :meth:`write` — publishes frames to their stores' own
      ``epoch=<id>`` directories."""

    def __init__(self, epoch_id: int):
        self.epoch_id = epoch_id
        self._releases: list = []

    def __enter__(self) -> EpochScope:
        return self

    def __exit__(self, *exc) -> None:
        while self._releases:
            self._releases.pop()()

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._releases.append(df.unpersist)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        df = df.localCheckpoint()
        rdd = df._jdf.queryExecution().analyzed().rdd()
        self._releases.append(lambda: rdd.unpersist(False))
        return df

    def path(self, root: str) -> str:
        """This epoch's directory in the store at ``root``."""
        return os.path.join(root, f"epoch={self.epoch_id}")

    def write(self, *parts) -> None:
        """Publish each ``(frame, root)`` part to ``<root>/epoch=<id>``
        with overwrite. A part's frame may instead be a writer
        ``f(path)``, for a partitioned layout. Parts must be
        independent — distinct targets, and no part's plan scans a
        store another part writes (checkpoint such inputs first) — so
        several run at once from a small pool: each job's tail
        back-fills the others' idle executors. The first failure
        re-raises, as a serial write would."""

        def publish(frame, root: str) -> None:
            if isinstance(frame, DataFrame):
                frame.write.mode("overwrite").parquet(self.path(root))
            else:
                frame(self.path(root))

        if len(parts) == 1:
            publish(*parts[0])
            return
        with ThreadPoolExecutor(max_workers=len(parts)) as pool:
            for f in [pool.submit(publish, *p) for p in parts]:
                f.result()


def _epoch_query(
    spark: SparkSession, reg: ChannelRegistry, source: str, ckpt: str, name: str, epoch_fn
):
    """Start the epoch-store query ``name``: read ``source`` one file
    per trigger, run each micro-batch as ``epoch_fn(batch, scope)`` in
    a fresh :class:`EpochScope`, checkpoint at ``<ckpt>/<name>``.

    Each epoch also runs in a STREAM-OWNED cache scope, which drains
    the epoch's ``bounded_broadcast`` guards at exit and never a
    concurrent stream's or an enclosing batch query's. Its token is
    per INSTANCE, so two concurrent instances of one app (parallel
    tests, parallel corpora) never drain each other's frames."""
    src = reg.read_stream(spark, source, max_files_per_trigger=1)
    scope = f"stream:{name}:{uuid.uuid4().hex[:12]}"

    def process(batch: DataFrame, epoch_id: int) -> None:
        with cache_scope(scope), EpochScope(epoch_id) as ep:
            epoch_fn(batch, ep)

    return (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(ckpt, name))
        .start()
    )


def _bootstrap_fit(store_root: str, out: str, cols, fit_target: int, fit, load, score):
    """The epoch body of a bootstrap-fit app, whose store holds
    ``stash``, the ``out`` epochs and a ``_FIT_EPOCH`` marker:

    - ``fit(rows)`` fits on the stashed + current ``cols`` rows, writes
      the model files and returns the model;
    - ``load(sess)`` reads the stored model back;
    - ``score(rows, model)`` returns the frame written to
      ``out/epoch=<id>``, checkpointed here before the write."""
    stash_path = os.path.join(store_root, "stash")
    out_path = os.path.join(store_root, out)
    fit_marker = os.path.join(store_root, "_FIT_EPOCH")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        sess = batch.sparkSession
        batch = ep.persist(batch)
        fit_ep = (
            int(hfs.read_text(sess, fit_marker).strip())
            if hfs.exists(sess, fit_marker)
            else None
        )
        if fit_ep is not None and ep.epoch_id > fit_ep:
            rows, model = batch, load(sess)
        else:
            # pre-fit epochs, the fit epoch, or a REDELIVERED fit epoch
            rows = batch.select(*cols)
            if hfs.exists(sess, stash_path):
                rows = read_epoch_store(sess, stash_path, ep.epoch_id).unionByName(rows)
            rows = ep.persist(rows)
            if fit_ep == ep.epoch_id:
                model = load(sess)
            elif rows.count() >= fit_target:
                model = fit(rows)
                hfs.write_text_atomic(sess, fit_marker, str(ep.epoch_id))
                # a crashed first attempt of this epoch can only have
                # taken THIS branch (the branch choice is a pure
                # function of the prior stores), but scrub the other
                # branch's dir anyway — the overwrite-own-epoch rule
                # holds across branches, not per-branch
                hfs.delete(sess, ep.path(stash_path))
            else:
                hfs.delete(sess, ep.path(out_path))
                ep.write((batch.select(*cols), stash_path))
                return
        ep.write((ep.checkpoint(score(rows, model)), out_path))

    return epoch


def _read_centroids(sess: SparkSession, path: str) -> list:
    """Stored k-means centroids as sorted ``(c, [float])`` pairs — the
    form :func:`_fit_centroids` returns, so a stored model and a refit
    compare bit-equal."""
    return sorted(
        (int(r["c"]), [float(x) for x in r["cv"]])
        for r in sess.read.parquet(path).collect()
    )


def _fit_centroids(rows: DataFrame, k: int, fit_limit: int, path: str) -> list:
    """Fit the k-means quantizer on ``rows`` (vec_id, embedding) —
    deterministic seeds and sample, so a refit is bit-equal — and store
    the centroids at ``path`` with overwrite."""
    cents = kmeans_fit(rows, "embedding", "vec_id", k=k, iters=KM_ITERS, fit_limit=fit_limit)
    rows.sparkSession.createDataFrame(
        [(c, cv) for c, cv in cents], "c int, cv array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    return cents


def doc_incremental_dedup_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_documents",
    out_channel: str = "dwd_documents_unique",
    jaccard_min: float = 0.5,
):
    """Streaming incremental MinHash dedup — the streaming form of the
    batch ``dedup_incremental`` query: every micro-batch's band keys
    join the corpus signature table accumulated from all previously
    KEPT documents; cross-corpus near-dups are dropped, in-batch
    verified pairs drop the newer (larger-id) doc, and survivors'
    signatures and shingles append to the store. Cost per batch is
    batch x bucket-overlap — the corpus is touched only through its
    (bounded, bucketed) signature table, never rescanned.

    Within a batch the drop rule is pairwise-greedy (drop ``doc_b`` of
    each verified pair); full transitive clustering is the periodic
    batch ``dedup_clusters`` job, the standard lambda split.

    The kept output and both signature stores are epoch-addressed
    (the module's crash rule); ``kept`` is the lineage cut — its plan
    scans the store paths through the cross-corpus join.
    """
    bands_path = os.path.join(store_root, "sig_bands")
    sh_path = os.path.join(store_root, "sig_shingles")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        sess = batch.sparkSession
        sh = ep.persist(D.doc_shingles(batch, "doc_id", "text"))
        bands = ep.persist(D.lsh_band_keys(sh))
        self_dup = (
            D.jaccard_verify(sh, D.lsh_pairs_from_bands(bands))
            .filter(F.col("jaccard") >= jaccard_min)
            .select(F.col("doc_b").alias("doc_id"))
        )
        if hfs.exists(sess, bands_path):
            corp_bands = read_epoch_store(sess, bands_path, ep.epoch_id)
            corp_sh = read_epoch_store(sess, sh_path, ep.epoch_id)
            # the new side is batch-bounded by contract — broadcast
            # it so the corpus signature table is map-side joined,
            # never shuffled (the asymmetry that holds at 100 TB:
            # corpus grows without bound, a micro-batch does not)
            cross = D.lsh_candidates_against(F.broadcast(bands), corp_bands)
            cross_dup = (
                D.jaccard_verify(sh, cross, sh_b=corp_sh)
                .filter(F.col("jaccard") >= jaccard_min)
                .select(F.col("doc_a").alias("doc_id"))
            )
            dups = self_dup.union(cross_dup)
        else:
            dups = self_dup
        kept = ep.checkpoint(batch.join(dups.distinct(), "doc_id", "left_anti"))
        # kept_ids is batch-bounded: broadcast the semi-join filter
        # so the persisted band/shingle frames are filtered map-side
        kept_ids = F.broadcast(kept.select("doc_id"))
        ep.write(
            (kept, reg._get(out_channel).path),
            (bands.join(kept_ids, "doc_id"), bands_path),
            (sh.join(kept_ids, "doc_id"), sh_path),
        )

    return _epoch_query(spark, reg, source, ckpt, "doc_incremental_dedup", epoch)


def substring_dedup_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_documents",
    out_channel: str = "dwd_documents_cut",
    run_len: int | None = None,
):
    """Streaming incremental SUBSTRING-level dedup — the Lee et al.
    ExactSubstr cut applied at ingest: every micro-batch of documents
    is cut against the duplicated-window set accumulated so far (all
    prior epochs PLUS the batch itself — in-batch cross-doc runs cut
    immediately), and contributes its own windows to the index store.

    The index is the operator's scaling story: per window hash the
    store keeps only ``(gh, lo, hi)`` = the min and max doc_id seen —
    "appears in >= 2 DISTINCT docs" is exactly ``min != max``, so the
    cross-epoch merge is a min/max groupBy: fixed-width per window,
    IDEMPOTENT under replay (the HLL max-merge class — even an honest
    double write could not corrupt it), mergeable map-side, and never
    a doc-pair join. The cut rows are the epoch's lineage cut.

    Incremental semantics, documented like ``doc_incremental_dedup``'s:
    an early doc keeps runs that only LATER become duplicated — the
    periodic batch ``substring_dedup`` is the full-corpus reconcile,
    the standard lambda split. Output rows are the batch query's
    (doc_id, n_tokens, n_removed, n_spans, cut_hash) via the shared
    ``substring_cut_rows`` expression tree.
    """
    L = run_len or D.SUBSTR_RUN
    idx_path = os.path.join(store_root, "win_index")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        sess = batch.sparkSession
        toks = ep.persist(D.doc_tokens(batch, "doc_id", "text"))
        grams = ep.persist(D.gram_positions_from(toks, L))
        grid = grams.groupBy("gh").agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        )
        if hfs.exists(sess, idx_path):
            merged = read_epoch_store(sess, idx_path, ep.epoch_id).union(grid)
        else:
            merged = grid
        dup = (
            fold_store(merged, "win_index")
            .filter(F.col("lo") != F.col("hi"))
            .select("gh")
        )
        starts = (
            grams.join(dup, "gh")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
        )
        cut = ep.checkpoint(D.substring_cut_rows(toks, starts, L))
        ep.write((cut, reg._get(out_channel).path), (grid, idx_path))

    return _epoch_query(spark, reg, source, ckpt, "substring_dedup", epoch)


# Doc-id bucket fanout for the similarity-graph shingle store: the
# verify's partition pruning reads at most this many buckets per epoch
# (usually far fewer — only buckets holding a candidate doc).
SIM_SH_BUCKETS = 32

# First-batch doc count at which the bucketed shingle-store layout
# pays for itself (r14 adjudication of the r13 10->18 s
# doc_pagerank_stream drift — measured same-process at sf0.1, medians
# of 3: plain bucketed write 22.6 s, + repartition-on-bkt 14.6 s,
# flat layout 11.4 s; the fanout write + 64-dir partition discovery
# cost MORE than the full-store read it saved at that size). Below
# the threshold the store is written flat and the verify reads it
# whole; above it every epoch is bucket-partitioned and the verify
# reads only touched buckets. The decision is made ONCE per store
# (first epoch) and persisted to a marker so restarts and retries
# keep one uniform directory layout.
SIM_SH_BUCKET_MIN_DOCS = 50_000


def similarity_graph_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_documents",
    jaccard_min: float = 0.5,
    bucket_layout: bool | None = None,
):
    """Streaming incremental EXACT similarity-graph maintenance: every
    micro-batch of documents discovers its threshold pairs (Jaccard >=
    ``jaccard_min``) against everything seen so far — in-batch pairs
    included — via the prefix-filter join under the CONTENT-DEFINED
    hash order (``operators/dedup.prefix_rows(order="hash")``): a
    doc's prefix is a pure function of its shingles, so it is computed
    ONCE at arrival and stored; a qualifying pair surfaces at the
    epoch its LATER doc arrives, when both prefixes exist under the
    same order — accumulating per-epoch discoveries therefore
    reconstructs the FULL-corpus threshold join exactly (the
    completeness theorem for any common total order,
    hypothesis-pinned; a df rarity order would re-prefix the corpus
    every batch as frequencies shift). The price of order stability is
    the rarity pruning — production runs exact dedup upstream so
    identical-copy blocks never reach this join, the documented
    lsh_recall_post_dedup contract.

    Stores (all epoch-addressed): ``pref`` (doc_id, g, n) prefix
    rows, ``sh`` (doc_id, s) shingle arrays for the exact verify, and
    ``pairs`` (doc_a, doc_b) — the graph itself, disjoint across
    epochs by the later-doc rule so the accumulated union needs no
    cross-epoch dedup. Per-epoch scan contract, stated exactly: the
    PREFIX index is the one store read in full each epoch — that scan
    IS candidate generation, probed by the broadcast batch side. The
    SHINGLE store's layout is SIZE-GATED (``bucket_layout=None``, the
    default, decides from the first batch's doc count vs
    ``SIM_SH_BUCKET_MIN_DOCS`` and persists the choice to a
    ``_SH_LAYOUT`` marker so every epoch — across restarts and
    retries — shares one directory layout): small corpora write flat
    and the verify reads the store whole (at that size the read IS
    cheaper than a bucketed write, measured — see
    SIM_SH_BUCKET_MIN_DOCS); at scale every epoch is partitioned by a
    doc_id bucket (``SIM_SH_BUCKETS``, repartitioned onto the bucket
    key so each epoch adds at most SIM_SH_BUCKETS files) and the
    verify reads only the buckets holding a candidate doc — the
    touched-bucket set is collected from the (persisted,
    batch-bounded) candidate pairs, at most SIM_SH_BUCKETS ids, a
    constant-bounded validator-style round-trip. Pass
    ``bucket_layout=True/False`` to force either layout (e.g. a
    deployment that bootstraps from small batches but grows large).

    Consumers read the pair store as the edge set — doc_pagerank's
    streaming twin runs the SAME corpus-vertex rank loop over it and
    shares the batch chained-CTE oracle verbatim: a green row
    certifies the incremental discovery reconstructed the batch
    prefix-filter graph bit-for-bit.
    """
    pref_path = os.path.join(store_root, "pref")
    sh_path = os.path.join(store_root, "sh")
    pairs_path = os.path.join(store_root, "pairs")
    layout_path = os.path.join(store_root, "_SH_LAYOUT")

    def _bkt(col_name: str):
        return F.pmod(F.xxhash64(F.col(col_name)), F.lit(SIM_SH_BUCKETS))

    def _resolve_layout(sess: SparkSession, batch: DataFrame) -> bool:
        """True = bucketed. Marker wins (uniform layout for the
        store's whole life); else the forced param; else the
        first-batch doc count. Written before any data write — a
        retried first epoch re-derives the same batch, hence the same
        marker, so the rewrite is idempotent."""
        if hfs.exists(sess, layout_path):
            marker = hfs.read_text(sess, layout_path).strip()
            if marker in ("bucketed", "flat"):
                return marker == "bucketed"
            # truncated marker (crash mid-write under the pre-atomic
            # scheme) — fall through and re-derive, preferring the
            # on-disk structure below
        epochs = [n for n in hfs.list_names(sess, sh_path) if n.startswith("epoch=")]
        if epochs:
            # a pre-marker (or marker-lost) store already chose its
            # layout — infer it from the directory structure instead
            # of the current batch's count, or the gate could mix flat
            # and bkt-partitioned epoch dirs under one sh/ root and
            # break read_epoch_store's partition discovery
            first = os.path.join(sh_path, sorted(epochs)[0])
            bucketed = any(
                n.startswith("bkt=") for n in hfs.list_names(sess, first)
            )
        elif bucket_layout is not None:
            bucketed = bucket_layout
        else:
            bucketed = batch.count() >= SIM_SH_BUCKET_MIN_DOCS
        hfs.write_text_atomic(sess, layout_path, "bucketed" if bucketed else "flat")
        return bucketed

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        sess = batch.sparkSession
        bucketed = _resolve_layout(sess, batch)
        bsh = ep.persist(D.doc_shingles(batch, "doc_id", "text"))
        bpref = ep.persist(D.prefix_rows(bsh, jaccard_min, order="hash"))
        if hfs.exists(sess, pref_path):
            all_pref = read_epoch_store(sess, pref_path, ep.epoch_id).union(bpref)
        else:
            all_pref = bpref
        cand = ep.persist(
            D.prefix_filter_candidates_against(F.broadcast(bpref), all_pref, jaccard_min)
        )
        if hfs.exists(sess, sh_path):
            # flat layout: the store is small by the gate's
            # construction — a whole read beats the bucketed write it
            # would take to avoid it (measured, see SIM_SH_BUCKET_MIN_DOCS)
            all_sh = read_epoch_store(sess, sh_path, ep.epoch_id)
            if bucketed:
                # index-shaped verify: read ONLY the store buckets a
                # candidate doc lives in (<= SIM_SH_BUCKETS ids — a
                # constant-bounded collect; partition-pruned read)
                touched = [
                    r["bkt"]
                    for r in cand.select(
                        F.explode(F.array(_bkt("doc_a"), _bkt("doc_b"))).alias("bkt")
                    )
                    .distinct()
                    .collect()
                ]
                all_sh = all_sh.filter(F.col("bkt").isin(touched)).drop("bkt")
            all_sh = all_sh.union(bsh)
        else:
            all_sh = bsh
        new_pairs = ep.checkpoint(
            D.jaccard_verify(all_sh, cand)
            .filter(F.col("jaccard") >= jaccard_min)
            .select("doc_a", "doc_b")
        )
        def write_bucketed_sh(path: str) -> None:
            # repartition ON the bucket key before the partitioned
            # write: without it every input task fans out to every
            # bucket dir (tasks x SIM_SH_BUCKETS small files per epoch
            # — measured 2x the whole replay at sf0.1, r13 VERDICT #2);
            # with it each bucket is written by exactly one task, so
            # the epoch adds at most SIM_SH_BUCKETS files
            bsh.withColumn("bkt", _bkt("doc_id")).repartition(
                F.col("bkt")
            ).write.partitionBy("bkt").mode("overwrite").parquet(path)

        ep.write(
            (new_pairs, pairs_path),
            (bpref, pref_path),
            (write_bucketed_sh if bucketed else bsh, sh_path),
        )

    return _epoch_query(spark, reg, source, ckpt, "similarity_graph", epoch)


def emb_incremental_dedup_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_embeddings",
    out_channel: str = "dwd_embeddings_unique",
):
    """Streaming incremental SemDeDup — the embedding twin of
    ``doc_incremental_dedup_app``: the FIRST micro-batch fits the
    coarse quantizer (adaptive k from the batch size, deterministic
    seeds/sample, so a retried bootstrap epoch refits identically) and
    persists the centroids; every batch is assigned with the stored
    centroids, in-batch same-cluster pairs past the cosine threshold
    drop the larger id (batch-local hot-cluster rep cap), and the
    batch is checked against the accumulated KEPT-vector store within
    shared clusters (corpus-side rep cap: a hot stored cluster keeps
    pairing new vectors against its min-id row). Survivors append to
    the epoch-addressed store; ``kept`` is the lineage cut, as in the
    MinHash app. Cost per batch is batch x cluster-overlap; the stored
    corpus is touched only through its cluster-keyed rows, never
    rescanned."""
    vec_path = os.path.join(store_root, "vec_store")
    cent_path = os.path.join(store_root, "centroids")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        sess = batch.sparkSession
        batch = ep.persist(batch)
        if hfs.exists(sess, cent_path):
            cents = _read_centroids(sess, cent_path)
        else:
            # bootstrap on the first batch; idempotent overwrite
            k = _semdedup_k(batch.count())
            cents = _fit_centroids(batch, k, max(KM_FIT_N, FIT_PER_CLUSTER * k), cent_path)
        assigned = ep.persist(S.with_cluster(batch, "embedding", cents))
        nrm = F.sqrt(S.norm_sq(F.col("embedding")))
        ck = assigned.select(F.col("c").cast("int").alias("c"), "vec_id")
        pairs = D.lsh_pairs_from_bands(
            ck, max_bucket=SEMDEDUP_MAX_CLUSTER,
            keys=("c",), id_col="vec_id", out=("ida", "idb"),
        )

        def side(df: DataFrame, x: str, *keys) -> DataFrame:
            return df.select(
                *keys,
                F.col("vec_id").alias(f"id{x}"),
                F.col("embedding").alias(f"v{x}"),
                nrm.alias(f"n{x}"),
            )

        close = S.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")) >= SEMDEDUP_T
        self_dup = (
            pairs.join(side(assigned, "a"), "ida")
            .join(side(assigned, "b"), "idb")
            .filter(close)
            .select(F.col("idb").alias("vec_id"))
        )
        if hfs.exists(sess, vec_path):
            store = read_epoch_store(sess, vec_path, ep.epoch_id)
            store_k = side(S.keep_cluster_reps(store, SEMDEDUP_MAX_CLUSTER), "b", "c")
            new_s = side(assigned, "a", F.col("c").cast("int").alias("c"))
            # batch side broadcast: the stored corpus is joined
            # map-side, never shuffled (the asymmetry that holds at
            # scale — the store grows, a micro-batch does not)
            cross_dup = (
                F.broadcast(new_s).join(store_k, "c").filter(close).select(F.col("ida").alias("vec_id"))
            )
            dups = self_dup.union(cross_dup)
        else:
            dups = self_dup
        kept = ep.checkpoint(assigned.join(dups.distinct(), "vec_id", "left_anti"))
        ep.write(
            (kept.select("vec_id"), reg._get(out_channel).path),
            (kept.select("vec_id", "embedding", F.col("c").cast("int").alias("c")), vec_path),
        )

    return _epoch_query(spark, reg, source, ckpt, "emb_incremental_dedup", epoch)


def decon_screen_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    eval_df: DataFrame,
    expected_train: int,
    source: str = "ods_embeddings",
):
    """Streaming SEMANTIC-decontamination screen (r14 VERDICT #2): the
    train-side quantizer and the flagged set are maintained
    incrementally as train embeddings arrive; the eval benchmark
    (``eval_df``) is the STATIC side, snapshotted into the store at
    app start (atomic rename) so every epoch across restarts screens
    against one pinned benchmark. A bootstrap-fit app (module
    docstring) with ``plans.similarity.decontaminate_semantic``'s
    screen, bit-identical to the batch query:

    - ``expected_train`` provisions the adaptive k up front (the
      Bloom-width contract: capacity is provisioned, not discovered);
      the fit TARGET is ``min(expected_train, max(KM_FIT_N,
      FIT_PER_CLUSTER*k))`` — the batch fit's exact sample size.
    - The fit epoch fits on the ``fit_target`` lowest-id vectors seen
      (= the batch fit sample when arrival is id-ordered, the
      bootstrap contract), persists the centroids, and screens the
      whole backlog into ``flags/epoch=<fit>``.
    - Post-fit epochs assign with the stored centroids and screen
      against the broadcast eval side only — per-train-row
      INDEPENDENT, so no cross-train state exists beyond the
      centroids; the accumulated flag store IS the batch flag set.

    Scale: the screen joins each batch map-side against the broadcast
    (benchmark-sized by contract) assigned eval frame — cost is
    sum_c(batch_ct x eval_ct) per epoch, eval-bounded, the store
    never rescanned."""
    cent_path = os.path.join(store_root, "centroids")
    eval_path = os.path.join(store_root, "eval_side")
    eval_asg_path = os.path.join(store_root, "eval_assigned")
    k = _semdedup_k(expected_train)
    fit_target = min(expected_train, max(KM_FIT_N, FIT_PER_CLUSTER * k))
    nrm = F.sqrt(S.norm_sq(F.col("embedding")))
    # SNAPSHOT the static eval side into the store before the stream
    # starts (temp dir + rename, atomic publish): every epoch — across
    # restarts, retries and redeliveries — screens against ONE pinned
    # benchmark, and the per-batch plans never mix frames from the
    # outer session into foreachBatch's cloned session
    if not hfs.exists(spark, eval_path):
        tmp = eval_path + ".tmp"
        hfs.delete(spark, tmp)
        eval_df.select("vec_id", "embedding").write.mode("overwrite").parquet(tmp)
        hfs.rename(spark, tmp, eval_path)

    def _eval_assigned(sess: SparkSession, cents) -> DataFrame:
        # the eval side is static and the centroids are fixed after the
        # fit, so its assignment is computed ONCE and stored (the
        # triplet app's probe-frame pattern, applied r17): post-fit
        # epochs read (c, eid, ve, ne) instead of re-running the
        # k x dim assignment projection per micro-batch. Deterministic
        # from (centroids, eval snapshot) — an atomic-rename publish
        # keeps a crashed first writer redelivery-safe, and floats
        # round-trip parquet exactly, so stored == recomputed bits.
        if not hfs.exists(sess, eval_asg_path):
            tmp = eval_asg_path + ".tmp"
            hfs.delete(sess, tmp)
            S.with_cluster(sess.read.parquet(eval_path), "embedding", cents).select(
                "c",
                F.col("vec_id").alias("eid"),
                F.col("embedding").alias("ve"),
                nrm.alias("ne"),
            ).write.mode("overwrite").parquet(tmp)
            hfs.rename(sess, tmp, eval_asg_path)
        return sess.read.parquet(eval_asg_path)

    def screen(train: DataFrame, cents) -> DataFrame:
        ev = _eval_assigned(train.sparkSession, cents)
        tr = S.with_cluster(train, "embedding", cents).select(
            "c", "vec_id", F.col("embedding").alias("vt"), nrm.alias("nt")
        )
        return (
            tr.join(F.broadcast(ev), "c")
            .withColumn(
                "cos_sim",
                S.dot(F.col("vt"), F.col("ve")) / (F.col("nt") * F.col("ne")),
            )
            .filter(F.col("cos_sim") >= DECON_COS_T)
            .select("vec_id", "eid", "cos_sim")
        )

    epoch = _bootstrap_fit(
        store_root, "flags", ("vec_id", "embedding"), fit_target,
        lambda rows: _fit_centroids(rows, k, fit_target, cent_path),
        lambda sess: _read_centroids(sess, cent_path),
        screen,
    )
    return _epoch_query(spark, reg, source, ckpt, "decon_screen", epoch)


def merged_decon_flags(spark: SparkSession, store_root: str) -> DataFrame:
    """The live flag report over the screen app's epoch store:
    (vec_id, hit_ct, max_cos) with exactly the batch query's shape —
    flag rows are per-train-row facts, so the merge is one grouped
    count/max, no cross-epoch reconciliation."""
    return (
        read_store(spark, os.path.join(store_root, "flags"))
        .groupBy("vec_id")
        .agg(F.count("*").alias("hit_ct"), F.max("cos_sim").alias("max_cos"))
    )


def triplet_mine_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    expected_corpus: int,
    source: str = "ods_embeddings",
):
    """Streaming contrastive-triplet mining — the candidate store for
    ``plans.similarity.contrastive_triplets`` maintained incrementally
    as corpus vectors arrive, a bootstrap-fit app (module docstring)
    with the PROBE set as the pinned static side:

    - the fit target is ``min(expected_corpus, KM_FIT_N)`` — the batch
      quantizer's exact deterministic sample (capacity provisioned up
      front, the Bloom-width contract).
    - the fit epoch fits the FIXED-k quantizer on the fit-target
      lowest-id vectors seen (= the batch fit sample under id-ordered
      arrival), persists centroids + the assigned PROBE frame (vec_id
      < N_PROBES — inside the fit sample by construction, so already
      arrived), and scores the whole backlog into
      ``scored/epoch=<fit>``.
    - post-fit epochs assign with the stored centroids and score
      map-side against the broadcast probe frame — each scored row is a
      pure function of (centroids, probes, the one corpus vector), so
      the accumulated epoch store IS the batch query's scored frame and
      the merged read shares SQL_CONTRASTIVE_TRIPLETS verbatim.

    Scale: per-epoch cost is batch x broadcast-probes within shared
    cells (probe-bounded, the hard_negative_mining class); the store
    accumulates candidates and is never rescanned by the app itself.
    """
    cent_path = os.path.join(store_root, "centroids")
    probe_path = os.path.join(store_root, "probes")
    fit_target = min(expected_corpus, KM_FIT_N)

    def fit(rows: DataFrame):
        cents = _fit_centroids(rows, KM_K, fit_target, cent_path)
        S.with_cluster(
            rows.filter(F.col("vec_id") < N_PROBES), "embedding", cents
        ).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qv"),
            F.col("c").alias("qlabel"),
        ).coalesce(1).write.mode("overwrite").parquet(probe_path)
        return cents

    def score(vecs: DataFrame, cents) -> DataFrame:
        probes = vecs.sparkSession.read.parquet(probe_path).select("qid", "qv", "qlabel")
        assigned = S.with_cluster(
            vecs.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")),
            "cv",
            cents,
        ).withColumnRenamed("c", "clabel")
        return (
            assigned.join(F.broadcast(probes), F.col("clabel") == F.col("qlabel"))
            .filter(F.col("cid") != F.col("qid"))
            .withColumn("cos_sim", S.cosine(F.col("qv"), F.col("cv")))
            .select("qid", "cid", "cos_sim")
        )

    epoch = _bootstrap_fit(
        store_root, "scored", ("vec_id", "embedding"), fit_target,
        fit, lambda sess: _read_centroids(sess, cent_path), score,
    )
    return _epoch_query(spark, reg, source, ckpt, "triplet_mine", epoch)


def ptron_gate_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    expected_docs: int,
    source: str = "ods_documents",
):
    """Streaming perceptron quality gate — the in-engine classifier
    (operators/classifier.py) trained at bootstrap from the document
    stream itself and then EXECUTED continuously (the dsir_gate_stream
    deployment shape with a model fit instead of count grids), a
    bootstrap-fit app (module docstring):

    - the fit epoch, reached at ``min(expected_docs, PTRON_FIT_N)``
      docs, takes the fit-target lowest doc_ids seen (= the batch fit
      sample under id-ordered arrival), derives the centering stats +
      teacher threshold, runs the full perceptron loop, persists the
      ONE-ROW model card (stats + final weights), and scores the whole
      backlog into ``grid/epoch=<fit>``.
    - post-fit epochs read the model card (a 1-row bounded collect),
      score their batch map-side (literal stats/weights — the batch
      query's joinless shape) and write a per-language
      (total_ct, kept_ct) count grid for their epoch. Grids are
      ADDITIVE (the CMS/Bloom/histogram mergeability contract), so the
      summed store equals the batch filter's counts exactly and the
      merged read shares quality_perceptron_filter's oracle VERBATIM.

    Scale: every store write is <= n_languages rows + the one-row
    model card, regardless of corpus size — the sample-bounded fit is
    what makes the gate runnable continuously.
    """
    model_path = os.path.join(store_root, "model")
    fit_target = min(expected_docs, PC.PTRON_FIT_N)
    stat_keys = ("ns", "s1", "s2", "s3", "thr")

    def load(sess: SparkSession):
        r = sess.read.parquet(model_path).collect()[0]
        return {k: r[k] for k in stat_keys}, [int(r[f"w{j}"]) for j in range(4)]

    def fit(rows: DataFrame):
        sample = rows.orderBy("doc_id").limit(fit_target).select("doc_id", "text")
        raw = PC.ptron_raw_features(sample).persist()
        try:
            stats = PC.ptron_stats(raw)
            w = PC.final_weights(PC.perceptron_fit(PC.ptron_centered(raw, stats)))
        finally:
            raw.unpersist()
        rows.sparkSession.createDataFrame(
            [tuple([stats[k] for k in stat_keys] + w)],
            "ns long, s1 long, s2 long, s3 long, thr double, "
            "w0 long, w1 long, w2 long, w3 long",
        ).coalesce(1).write.mode("overwrite").parquet(model_path)
        return stats, w

    def score(docs: DataFrame, model) -> DataFrame:
        stats, w = model
        raw = PC.ptron_raw_features(docs, extra=("lang",))
        feats = PC.ptron_centered(raw, stats, extra=("lang",))
        xs = [F.col(f"x{j}") for j in range(4)]
        kept = (PC.margin_expr(w, xs) >= 0).cast("long")
        return feats.groupBy("lang").agg(
            F.count(F.lit(1)).alias("total_ct"),
            F.sum(kept).alias("kept_ct"),
        )

    epoch = _bootstrap_fit(
        store_root, "grid", ("doc_id", "text", "lang"), fit_target, fit, load, score
    )
    return _epoch_query(spark, reg, source, ckpt, "ptron_gate", epoch)


def merged_ptron_gate(spark: SparkSession, store_root: str) -> DataFrame:
    """The live gate report over the app's additive epoch grids:
    per-language totals summed across epochs, keep_rate derived from
    the merged sums — exactly quality_perceptron_filter's output
    shape, so the twin shares its oracle verbatim."""
    return merged_store(spark, store_root, "grid").select(
        "lang",
        "total_ct",
        "kept_ct",
        (F.col("kept_ct").cast("double") / F.col("total_ct")).alias("keep_rate"),
    )


def cms_sketch_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_documents",
):
    """Streaming count-min sketch maintenance — the MERGEABILITY of
    ``operators.aggregates.cms_counters`` exercised as a real stream:
    every micro-batch builds its own depth x width counter grid (one
    map-side-combinable grouped count over just that batch) and writes
    it to an epoch-addressed store; the live sketch is the
    per-(row, bucket) SUM over epochs (``merged_store(..., "cms_grid")``) —
    plain counter addition, which is exactly why CMS is *the*
    streaming frequency sketch. There is no per-key state anywhere:
    the sketch IS the state, bounded at depth*width rows no matter how
    many distinct tokens ever flow.
    """
    grid_path = os.path.join(store_root, "cms_grid")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        toks = batch.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        ep.write((cms_counters(toks, "tok"), grid_path))

    return _epoch_query(spark, reg, source, ckpt, "cms_sketch", epoch)


def bloom_filter_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    bits: int,
    source: str = "ods_eval_docs",
    ngram: int = 5,
):
    """Streaming eval-Bloom maintenance — the decontamination filter's
    answer to a GROWING benchmark set, on the CMS app's exact pattern:
    every micro-batch of newly published eval documents shingles,
    hashes, and packs ITS OWN grams into a (w, bits) word grid written
    to an epoch-addressed store; the live filter is the per-word
    ``bit_or`` over epochs (``merged_store(..., "bloom_words")``) — Bloom
    filters of a fixed width are OR-mergeable, exactly as CMS grids
    are additive. No per-key state: the filter IS the state, bounded
    at bits/BLOOM_WORD rows however many eval docs ever arrive.
    ``bits`` is fixed at provisioning time (size it for the
    benchmark's expected scale via ``operators.dedup.bloom_width``);
    re-provisioning a saturated filter is a batch rebuild, the
    standard Bloom operational contract.
    """
    path = os.path.join(store_root, "bloom_words")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        # persist before the explode: without the plan barrier Catalyst
        # collapses the staged projections and the shingle lambda
        # re-runs its inlined tokenize per element (textops.tokenize's
        # lambda-inlining note; measured 3.3 s -> sub-second per epoch)
        sh = ep.persist(D.doc_shingles(batch, "doc_id", "text", ngram=ngram))
        ev = sh.select(F.explode("s").alias("g")).select(F.md5("g").alias("gh")).distinct()
        ep.write((D.bloom_word_table(ev, bits), path))

    return _epoch_query(spark, reg, source, ckpt, "bloom_filter", epoch)


def hll_sketch_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_events",
):
    """Streaming HLL register maintenance — the CARDINALITY member of
    the epoch-store sketch family (CMS adds, Bloom ors, the histogram
    adds, HLL MAXES): every micro-batch builds its own (event_type, j,
    r) register grid of its event_ids (one map-side-combinable grouped
    max) and writes it to an epoch-addressed store; the live sketch is
    the per-(event_type, j) MAX over epochs
    (``merged_store(..., "hll_regs")``). MAX merge is IDEMPOTENT — the one
    member of the family where even an appended double-write of an
    epoch could not corrupt the sketch. No per-key state: the
    registers ARE the state, groups*m rows however many distinct keys
    ever flow."""
    grid_path = os.path.join(store_root, "hll_regs")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        ep.write((hll_registers(batch, "event_type", "event_id"), grid_path))

    return _epoch_query(spark, reg, source, ckpt, "hll_sketch", epoch)


def lm_counts_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_documents",
    doc_filter=None,
):
    """Streaming bigram-LM model maintenance — the MODEL-FIT member of
    the epoch-store family (CMS adds, Bloom ors, histogram adds, HLL
    maxes; this one adds COUNTS and distincts TOKENS): every
    micro-batch reduces to its own (w1, g, ct) bigram-count grid and
    its own distinct-token set, each written to an epoch-addressed
    store. The live model (:func:`merged_lm_model`) SUMs the count
    grids (additive merge — exact, so the streamed model is
    BIT-IDENTICAL to the one-shot batch fit), derives the prefix
    totals from the merged grid (c1 = sum of c2 over the prefix — the
    derivation commutes with the merge), and DISTINCTs the token sets
    (idempotent). Per-epoch store cost is batch-distinct-bigram-sized,
    never corpus-sized.

    ``doc_filter`` (optional Column) admits only matching documents
    into the model — how a DSIR deployment maintains its TARGET-domain
    model from the same stream that feeds the raw model: two app
    instances, one predicate apart (`dsir_gate_stream`)."""
    grams_path = os.path.join(store_root, "lm_grams")
    toks_path = os.path.join(store_root, "lm_toks")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        if doc_filter is not None:
            batch = batch.filter(doc_filter)
        staged = textops.with_tokens(batch)
        ep.write(
            (lm.doc_bigrams(staged).groupBy("w1", "g").agg(F.count("*").alias("ct")), grams_path),
            (staged.select(F.explode("toks").alias("tok")).distinct(), toks_path),
        )

    return _epoch_query(spark, reg, source, ckpt, "lm_counts", epoch)


def merged_lm_model(spark: SparkSession, store_root: str) -> DataFrame:
    """The live bigram model over an epoch-addressed count store:
    (g, w1, c2, c1, v, s) with exactly ``operators/lm.bigram_model``'s
    schema and values — c2 = per-(w1, g) count sum across epochs,
    c1 derived from the MERGED grid, v = distinct over the epoch token
    sets, s the scaled integer surprisal. All-integer, so additivity
    is exact and the streamed model equals the batch fit bit-for-bit."""
    c2 = merged_store(spark, store_root, "lm_grams").withColumnRenamed("ct", "c2")
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    v = (
        read_store(spark, os.path.join(store_root, "lm_toks"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    return (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .withColumn("s", F.expr(lm.SURPRISAL_GUARDED_EXPR))
    )


def dsir_grid_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_documents",
    doc_filter=None,
):
    """Streaming hashed-DSIR grid maintenance — the corpus-size-FREE
    member of the epoch-store family: every micro-batch hashes ITS OWN
    bigram occurrences onto the fixed ``lm.DSIR_HASH_B``-bucket md5
    grid (``lm.hash_bucket`` — the same routing expression as the
    batch fit) and writes a (b, ct) count grid to an epoch-addressed
    store; the live model is the per-bucket SUM over epochs
    (``merged_store(..., "dsir_grid")``) — plain counter addition, the CMS merge
    applied to a model fit. Unlike ``lm_counts_app`` (whose per-epoch
    grids are batch-distinct-bigram-sized), EVERY epoch here is
    bounded at DSIR_HASH_B rows no matter the corpus — this is the
    estimator you can actually run continuously at 100 TB with open
    vocabulary. ``doc_filter`` admits only matching documents: two app
    instances one admission predicate apart maintain the raw and the
    TARGET-domain grids from the same stream (`dsir_hashed_stream`),
    exactly the dsir_gate_stream deployment shape."""
    grid_path = os.path.join(store_root, "dsir_grid")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        if doc_filter is not None:
            batch = batch.filter(doc_filter)
        grid = (
            lm.doc_bigrams(textops.with_tokens(batch))
            .select(lm.hash_bucket(F.col("g"), lm.DSIR_HASH_B).alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias("ct"))
        )
        ep.write((grid, grid_path))

    return _epoch_query(spark, reg, source, ckpt, "dsir_grid", epoch)


def events_rollup_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    source: str = "ods_events",
):
    """Streaming hourly-rollup maintenance — the continuous-aggregate
    member of the epoch-store family (the hypertable 'continuous
    aggregate' shape): every micro-batch reduces to its own
    (event_type, hour) count + decimal value-sum grid and writes it to
    an epoch-addressed store. Counts merge by integer SUM and the
    value sums are stored AS DECIMAL (never rounded through a double
    at the epoch boundary), so the merged rollup
    (:func:`merged_events_rollup`) is bit-identical to the one-shot
    batch rollup — decimal addition is exact and associative, the
    same argument that makes exact_sum order-insensitive. Per-epoch
    store cost is grid-sized, never row-sized."""
    grid_path = os.path.join(store_root, "roll_grid")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        grid = batch.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(
            F.count("*").alias("ct"),
            # the SAME per-row decimal quantum exact_sum uses: a drifting
            # literal here would silently break the bit-identical merge
            # that the gapfill stream twin certifies
            F.sum(F.col("value").cast(_EXACT_DEC)).alias("vsum"),
        )
        ep.write((grid, grid_path))

    return _epoch_query(spark, reg, source, ckpt, "events_rollup", epoch)


def merged_events_rollup(spark: SparkSession, store_root: str) -> DataFrame:
    """The live hourly rollup over an epoch-addressed grid store:
    (event_type, h, ct, value_sum) with exactly the batch rollup's
    schema and values — integer count sum, decimal value sum cast to
    double ONCE at the read edge."""
    return merged_store(spark, store_root, "roll_grid").select(
        "event_type", "h", "ct", F.col("vsum").cast("double").alias("value_sum")
    )


def hist_sketch_app(
    spark: SparkSession,
    reg: ChannelRegistry,
    ckpt: str,
    store_root: str,
    bounds_rows: list,
    source: str = "ods_events",
):
    """Streaming histogram-quantile sketch maintenance — the quantile
    member of the epoch-store sketch trio (CMS adds, Bloom ors, the
    histogram adds): every micro-batch builds its own per-event_type
    256-bin count grid over the PROVISIONED ``value`` domain and writes
    it to an epoch-addressed store; the live sketch is the
    per-(event_type, b) SUM over epochs
    (``merged_store(..., "hist_grid")``). ``bounds_rows`` is the
    provisioned (event_type, vmin, vmax) domain — fixed up front like the
    Bloom width, which is exactly what keeps per-epoch grids
    mergeable; values outside the domain clamp into the edge bins, the
    standard streaming-histogram contract (re-provision by batch
    rebuild when the domain drifts), and rows of a GROUP the domain
    does not cover count into that group's sentinel bin -1 — visible
    in the grid as the re-provision signal, never silently dropped
    (the r10 review finding; quantile readers exclude the sentinel).
    No per-key state: the grid IS the state, groups*bins(+1) rows
    forever."""
    grid_path = os.path.join(store_root, "hist_grid")
    bounds = local_table(spark, bounds_rows, "event_type string, vmin double, vmax double")

    def epoch(batch: DataFrame, ep: EpochScope) -> None:
        grid = hist_counters(batch.select("event_type", "value"), "event_type", "value", bounds)
        ep.write((grid, grid_path))

    return _epoch_query(spark, reg, source, ckpt, "hist_sketch", epoch)


def compact_signature_store(
    spark: SparkSession,
    store_root: str,
    upto_epoch: int,
    subs: tuple[str, ...] = ("sig_bands", "sig_shingles"),
) -> None:
    """Compact the incremental-dedup signature store: merge every
    ``epoch=<id>`` directory with id <= ``upto_epoch`` (plus any
    previous compacted base) into ONE new base generation, then drop
    the merged directories. Without this, epoch directories — and the
    store's file-listing cost — grow forever with the stream.

    Base generations use NEGATIVE epoch ids (strictly decreasing per
    compaction), so the app's ``epoch < current`` pruning always reads
    them and never confuses a base with a live micro-batch epoch.

    The merge is pure DISK-TO-DISK: the merged generation streams to a
    sibling temp directory (``<sub>.compact.tmp``, OUTSIDE the store's
    partition discovery, so live readers never see a half-written
    base), is renamed into place as the new ``epoch=<gen>`` directory
    only once fully written, and then the merged directories are
    dropped. Nothing is pinned in executor or driver memory — at a
    100 TB store the compaction cost tracks the store's size on disk,
    like any table OPTIMIZE.

    Crash safety, in order of failure point: a crash while writing the
    temp directory leaves an orphan the next compaction sweeps before
    starting (the store itself is untouched); a crash after the rename
    but before the old directories are removed is ALREADY COMMITTED —
    the new base carries a ``_superseded.json`` manifest (written into
    the temp directory, so the rename publishes rows and manifest
    atomically) naming every merged epoch, and every reader goes
    through :func:`read_store`, which excludes manifest-superseded
    directories still on disk. The post-rename deletes are therefore
    pure cleanup; the next compaction finishes any the crash skipped.
    This holds for the ADDITIVE merges too — without the manifest, a
    half-deleted SUM-family store would double-count every compacted
    cell and the next compaction would bake the duplication in. Run it
    from the maintenance schedule between micro-batches.

    ``subs`` names the store's epoch-addressed tables: the MinHash
    app's (bands + shingles) by default; pass ``("vec_store",)`` for
    the embedding app's kept-vector store — the layout and crash
    contract are identical, so one compactor serves both.

    Each sub folds through its own merge, looked up by name in
    :data:`STORE_MERGES` (:func:`fold_store`): the sketch-class stores
    (CMS, histogram and DSIR grids SUM, Bloom words bit_or, HLL
    registers MAX, the substring window index MIN/MAX, ...) collapse N
    epochs to ONE row per cell, and the reader's fold over the
    compacted base is unchanged because each merge is associative. The
    manifest commit above makes this safe even for the ADDITIVE merges:
    a crash can never leave a state where a reader sums both a base
    and the epochs it absorbed. A sub not in the table is a SET-like
    store (signatures, shingles, vectors), where a row is a fact, not
    a partial aggregate, and folds by ``distinct()``.
    """
    for sub in subs:
        path = os.path.join(store_root, sub)
        if not hfs.exists(spark, path):
            continue
        tmp = path + ".compact.tmp"
        hfs.delete(spark, tmp)  # sweep an orphan from a crashed run
        # finish a crashed run's deletes: manifest-superseded dirs are
        # already committed-away — sweep them before reading
        for g in sorted(superseded_epochs(spark, path)):
            hfs.delete(spark, os.path.join(path, f"epoch={g}"))
        df = read_store(spark, path)
        gens = sorted(r["epoch"] for r in df.select("epoch").distinct().collect())
        to_merge = [g for g in gens if g <= upto_epoch]
        if len(to_merge) <= 1:
            continue
        new_gen = min(min(to_merge) - 1, -1)
        picked = df.filter(F.col("epoch").isin([int(g) for g in to_merge])).drop(
            "epoch"
        )
        fold_store(picked, sub).write.mode("overwrite").parquet(tmp)
        # the manifest rides the SAME rename as the merged rows: either
        # both are visible (readers skip the old dirs) or neither is
        hfs.write_text(
            spark,
            os.path.join(tmp, _BASE_MANIFEST),
            json.dumps(sorted(int(g) for g in to_merge)),
        )
        hfs.rename(spark, tmp, os.path.join(path, f"epoch={new_gen}"))
        for g in to_merge:
            hfs.delete(spark, os.path.join(path, f"epoch={g}"))
