"""Streaming-operator replay queries — F2/U2 under the external oracle.

Each query here runs the *real* exact-keyed-state streaming operator
(``streaming/stateful.py``) over a file-channel replay of ``events``
and returns its collected output, so the DuckDB oracle value-checks
the streaming path itself — not just the batch twin. The replay is the
file-channel analogue of offset-ordered Kafka consumption (see
``streaming/replay.py``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.exact import exact_sum
from ..operators import dedup as D, lm, textops
from ..operators.aggregates import cms_estimate, hist_quantiles
from ..operators.cache import corpus_value, scoped_persist
from ..operators.dedup import MAX_BUCKET
from ..operators.graph import pagerank_partitioned
from ..operators.partitioning import spread
from ..session import load_tables, local_table
from ..sources.cdc import envelope_from_table
from ..sources.dimstore import DimStore
from ..streaming import stateful
from ..streaming.pipelines import (
    WINDOW,
    base_db_app,
    bloom_filter_app,
    cms_sketch_app,
    decon_screen_app,
    doc_incremental_dedup_app,
    doc_quality_gate_app,
    dsir_grid_app,
    emb_incremental_dedup_app,
    events_rollup_app,
    hist_sketch_app,
    hll_sketch_app,
    lm_counts_app,
    merged_decon_flags,
    merged_events_rollup,
    merged_lm_model,
    merged_ptron_gate,
    merged_store,
    order_wide_app,
    payment_wide_app,
    ptron_gate_app,
    read_store,
    session_window_agg,
    similarity_graph_app,
    substring_dedup_app,
    triplet_mine_app,
    window_agg,
)
from ..streaming.replay import replay_registry, replay_stateful, run_to_end, with_sentinel
from .catalog import register, register_setup
from .cdc import PIT_T0, PIT_T1, sql_dim_enrichment_asof
from .dedup import (
    DOC_PR_PARTITIONS,
    JACCARD_THRESHOLD,
    SQL_LSH_BANDS,
    SQL_SHINGLES3,
    _sql_doc_pagerank,
    _sql_substr_res_tail,
)
from .llmprep import (
    DECON_NGRAM,
    EVAL_MOD,
    corpus_decon_grams,
    decon_bloom_bits,
    sql_decontaminate_bloom,
)
from .lmquality import (
    DSIR_TARGET_LANG,
    SQL_DSIR_HASHED_Q,
    SQL_DSIR_SELECT_AUDIT,
    SQL_PERPLEXITY_FILTER,
    SQL_PTRON_FILTER,
    _dsir_hash_bucket,
    _staged_grams,
    dsir_audit_output,
    dsir_hashed_scores_from_grid,
    dsir_scores_from,
    gate_output,
)
from .logs import (
    PAGERANK_D,
    PAGERANK_ITERS,
    PAGERANK_RESET,
    SESSION_GAP_MIN,
    VISITOR_SLIDE,
    _SQL_FUNNEL_ATTR,
    _SQL_FUNNEL_ATTR4,
    _SQL_FUNNEL_ATTR_WINDOWED,
    _SQL_VISITOR_SLIDING,
    _exact_disc_long,
    _sql_behavior_pagerank,
    _sql_drift_chi2,
    _sql_hll_audit,
    _windowed_funnel_select,
    drift_chi2_from_grid,
    hll_audit_from_regs,
    pagerank_ranks,
    sql_quantile_hist_audit,
)
from .similarity import (
    SEMDEDUP_MAX_CLUSTER,
    SEMDEDUP_T,
    SQL_CONTRASTIVE_TRIPLETS,
    SQL_DECON_SEMANTIC,
    SQL_DOT,
    _sql_kmeans_ctes_subset,
    triplets_from_scored,
)
from .text import CMS_TOP, SQL_STOPS, SQL_TOKS, _sql_cms_audit
from .timeseries import SQL_GAPFILL_LOCF, dense_from_rollup, locf_output


def _run_store_app(spark, reg, app, ckpt="ckpt", store="store", **kw) -> str:
    """Run the epoch-store app ``app`` over ``reg``'s channels to the
    end, with its checkpoint at ``<reg.root>/<ckpt>`` and its store at
    ``<reg.root>/<store>``; returns the store root."""
    store, ckpt = os.path.join(reg.root, store), os.path.join(reg.root, ckpt)
    run_to_end(spark, reg, lambda: app(spark, reg, ckpt, store, **kw))
    return store


def _time_halves(ev: DataFrame):
    """Each row's file in a 2-file replay of ``ev``, cut at the middle
    of its event-time span. The cut is on event-time VALUE, not row
    count: a row-count split could land between two rows sharing one
    timestamp, and the as-of tie rules (a same-instant build visible to
    its probe) are decided in-batch. Monotone in ts, so the replay
    stays event-ordered; costs one tiny min/max agg."""
    mn, mx = ev.select(F.min("ts"), F.max("ts")).first()
    ts_type = ev.schema["ts"].dataType.simpleString()
    return F.when(F.col("ts") <= F.lit(mn + (mx - mn) / 2).cast(ts_type), 0).otherwise(1)


def _doc_lines(docs: DataFrame) -> DataFrame:
    """``docs`` spread by doc_id, with a synthetic event time ``ts`` one
    second per doc_id, for a time-ordered document replay."""
    return spread(docs, "doc_id").withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    )


@register(
    "uv_first_visit_stream",
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
    doc="F2, streaming path — UniqueVisitApp's ValueState<lastVisitDate> "
    "dedup (RT/app/dwm/UniqueVisitApp.java:41-84) run as a real "
    "applyInPandasWithState stream over a time-ordered replay; the "
    "oracle is the same first-visit-per-day SQL as uv_first_visit, so "
    "the streaming operator itself is value-checked.",
    tags=("state", "streaming", "events"),
)
def uv_first_visit_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    out = replay_stateful(
        spark, events,
        stateful.daily_dedup,
        order_by=["ts", "event_id"],
        cache_key=f"events:{sf_dir}", n_files=2,
    )
    return out.select("user_id", "dt", "first_event_id")


@register(
    "is_new_fix_stream",
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
    doc="F3, streaming path — BaseLogApp's first-seen correction "
    "(RT/app/dwd/BaseLogApp.java:58-95) run as the real keyed-state "
    "stream over a time-ordered replay; same oracle as is_new_fix, so "
    "the stateful operator itself is value-checked.",
    tags=("state", "streaming", "events"),
)
def is_new_fix_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    out = replay_stateful(
        spark, events,
        stateful.fix_is_new,
        order_by=["ts", "event_id"],
        cache_key=f"events:{sf_dir}", n_files=2,
    )
    return out.select("event_id", "user_id", "is_new")


@register(
    "bounce_stats_stream",
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
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MAX(session_id) OVER (PARTITION BY user_id) AS max_sid
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS closed_ct,
           COUNT(*) FILTER (WHERE n_events = 1) AS bounce_ct
    FROM per_session
    WHERE session_id < max_sid
    GROUP BY user_id
    """,
    doc="U2, streaming path — CEP bounce sessionization "
    "(stub RT/app/dwm/UserJumpDetailApp.java; flink-cep dep in "
    "gmall-realtime/pom.xml:52-56) run as the real "
    "applyInPandasWithState stream over a replay. The stream emits "
    "sessions *closed by a successor event*; each user's open tail "
    "session stays in state (its processing-time timeout cannot fire "
    "during a drain), so the oracle is batch sessionization minus each "
    "user's last session.",
    tags=("cep", "session", "streaming", "events"),
)
def bounce_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    out = replay_stateful(
        spark,
        events,
        lambda src: stateful.sessionize_bounce(src, gap_minutes=SESSION_GAP_MIN),
        order_by=["ts", "event_id"],
        cache_key=f"events:{sf_dir}", n_files=2,
    )
    return out.groupBy("user_id").agg(
        F.count("*").alias("closed_ct"),
        F.count_if(F.col("is_bounce")).alias("bounce_ct"),
    )


# -- streaming incremental dedup under the oracle -----------------------

_N_DEDUP_BATCHES = 3


def _incdedup_oracle() -> str:
    """Unrolled greedy replay of doc_incremental_dedup_app in SQL.

    Mirrors the app's hot-bucket cap at its EXACT scopes — not the
    one-shot queries' global cap: in-batch candidates cap by
    batch-local bucket occupancy ((f, b, bk), `lsh_pairs_from_bands`
    over one micro-batch's bands), and cross-corpus candidates cap by
    the KEPT-store's occupancy of the touched buckets
    (`lsh_candidates_against`'s corpus-side guard; the batch side is
    uncapped by the micro-batch contract). Hot buckets are capped to
    REPRESENTATIVE pairs on both scopes, exactly as the app does: an
    in-batch hot bucket contributes (min-id rep, member) pairs, and a
    hot store bucket keeps pairing new docs against its min-id row —
    so even a store bucket past the cap never goes quiet; incoming
    near-dup copies keep being dropped against the representative at
    batch x 1 cost.
    """

    n = _N_DEDUP_BATCHES

    def verified(cand: str, drop_col: str) -> str:
        return f"""
  SELECT DISTINCT {cand}.{drop_col} AS doc_id
  FROM {cand} JOIN sh va ON {cand}.doc_a = va.doc_id
              JOIN sh vb ON {cand}.doc_b = vb.doc_id
  WHERE CAST(len(list_intersect(va.s, vb.s)) AS DOUBLE)
        / len(list_distinct(list_concat(va.s, vb.s))) >= {JACCARD_THRESHOLD}"""

    epoch_ctes = []
    kept0 = """kept0 AS (
  SELECT doc_id FROM d WHERE f = 0
    AND doc_id NOT IN (SELECT doc_id FROM selfdrop)
)"""
    epoch_ctes.append(kept0)
    for f in range(1, n):
        prior = " UNION ALL ".join(f"SELECT doc_id FROM kept{p}" for p in range(f))
        epoch_ctes.append(
            f"""store{f} AS (
  SELECT bd.* FROM bd WHERE bd.doc_id IN ({prior})
),
sstat{f} AS (
  SELECT b, bk, COUNT(*) AS bct, MIN(doc_id) AS rep
  FROM store{f} GROUP BY b, bk
),
xc{f} AS (
  SELECT DISTINCT nb.doc_id AS doc_a, sb.doc_id AS doc_b
  FROM bd nb
  JOIN store{f} sb ON nb.b = sb.b AND nb.bk = sb.bk AND nb.doc_id != sb.doc_id
  JOIN sstat{f} t ON sb.b = t.b AND sb.bk = t.bk
  WHERE nb.f = {f} AND (t.bct <= {MAX_BUCKET} OR sb.doc_id = t.rep)
),
xdrop{f} AS ({verified(f"xc{f}", "doc_a")}
),
kept{f} AS (
  SELECT doc_id FROM d WHERE f = {f}
    AND doc_id NOT IN (SELECT doc_id FROM selfdrop)
    AND doc_id NOT IN (SELECT doc_id FROM xdrop{f})
)"""
        )
    union = "\nUNION ALL ".join(f"SELECT doc_id FROM kept{f}" for f in range(n))
    return f"""
    WITH {SQL_SHINGLES3},
    {SQL_LSH_BANDS.strip().strip(',')},
    d AS (SELECT doc_id, doc_id % {n} AS f FROM documents),
    bd AS (
      SELECT bands.doc_id, bands.b, bands.bk, d.f
      FROM bands JOIN d ON bands.doc_id = d.doc_id
    ),
    bbstat AS (
      SELECT f, b, bk, COUNT(*) AS bct, MIN(doc_id) AS rep
      FROM bd GROUP BY f, b, bk
    ),
    scand AS (
      SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM bd a
      JOIN bbstat ON a.f = bbstat.f AND a.b = bbstat.b AND a.bk = bbstat.bk
                 AND bbstat.bct <= {MAX_BUCKET}
      JOIN bd c ON a.f = c.f AND a.b = c.b AND a.bk = c.bk
                AND a.doc_id < c.doc_id
      UNION
      SELECT t.rep AS doc_a, bd.doc_id AS doc_b
      FROM bd JOIN bbstat t ON bd.f = t.f AND bd.b = t.b AND bd.bk = t.bk
      WHERE t.bct > {MAX_BUCKET} AND bd.doc_id > t.rep
    ),
    selfdrop AS ({verified("scand", "doc_b")}
    ),
    {",".join(epoch_ctes)}
    {union}
    """


@register(
    "dedup_incremental_stream",
    oracle=_incdedup_oracle(),
    doc="Streaming incremental MinHash dedup under the external oracle: "
    "the real foreachBatch app (streaming/pipelines.doc_incremental_"
    "dedup_app — per-epoch signature store, cross-corpus LSH join) "
    "replays `documents` in 3 micro-batches split deterministically by "
    "doc_id % 3, and the oracle unrolls the same greedy rule in SQL: "
    "per batch, drop in-batch verified doc_b's (id-ordered pairs), "
    "then drop any doc verifying >= threshold against a previously "
    "KEPT doc; survivors join the corpus. Extends the reference's "
    "keyed-state dedup (RT/app/dwm/UniqueVisitApp.java:41-84) to "
    "content near-dup at ingest.",
    tags=("dedup", "lsh", "streaming", "incremental"),
)
def dedup_incremental_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    reg = replay_registry(
        "gmall_incdedup_",
        ods_documents=(docs, _N_DEDUP_BATCHES, ["doc_id"], F.col("doc_id") % _N_DEDUP_BATCHES),
    )
    _run_store_app(spark, reg, doc_incremental_dedup_app)
    return reg.read_batch(spark, "dwd_documents_unique").select("doc_id")


@register(
    "session_stats_stream",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL {SESSION_GAP_MIN} MINUTE
                  THEN 1 ELSE 0 END AS is_entry
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(is_entry) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
    FROM s
    GROUP BY user_id, sid
    """,
    doc="Native session-window aggregation, streaming path under the "
    "oracle — the fourth streaming query family next to the three "
    "keyed-state replays: Spark's merging session_window (the windowed "
    "generalization of U2's session state) over a time-ordered replay, "
    "flushed by a far-future sentinel user whose arrival pushes the "
    "watermark past every real session. The oracle replays Spark's "
    "MERGE rule exactly (split when the gap is >= the threshold — "
    "session windows merge only on strict overlap), so the "
    "zero-measure boundary where the batch sessionize twin differs is "
    "matched, not papered over.",
    tags=("session", "streaming", "events", "agg"),
)
def session_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    # withWatermark requires TIMESTAMP (LTZ); parquet may surface NTZ.
    # Session TZ is UTC either way, so the wall-clock value is identical.
    src = events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
    )
    # two watermark delays past the data: every real session closes
    out = replay_stateful(
        spark,
        with_sentinel(src, "2 hours", event_id=-1, user_id=-1, value=0.0),
        session_window_agg,
        order_by=["ts", "event_id"],
        drain_mode="all_available",
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "value_sum",
    )


def _visitor_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    return events.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )


def _visitor_flushed(src: DataFrame, after: str) -> DataFrame:
    """``src`` plus a ``_sentinel`` flush row ``after`` past the data."""
    return with_sentinel(src, after, event_id=-1, event_type="_sentinel", value=0.0)


def _visitor_pv(spark: SparkSession, flushed: DataFrame, window=(WINDOW,), **replay) -> DataFrame:
    """The visitor-stats replays: ``flushed`` through the DWS window
    aggregate of pv count and exact value sum per event type, then the
    real windows' ``stt`` rows."""
    out = replay_stateful(
        spark,
        flushed,
        lambda s: window_agg(
            s,
            ["event_type"],
            F.count("*").alias("pv_ct"),
            exact_sum(F.col("value")).alias("value_sum"),
            window=window,
        ).drop("edt"),
        drain_mode="all_available",
        **replay,
    )
    return out.filter(F.col("event_type") != "_sentinel")


@register(
    "visitor_stats_stream",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
    doc="A1, streaming path under the oracle — the TUMBLING-window "
    "twin of session_stats_stream's merging windows: the real "
    "watermarked window aggregate (visitor_stats_app's plan shape, "
    "RT/bean/VisitorStats.java:11-36) over a time-ordered replay, "
    "flushed by a sentinel row. Measures are the exact-expressible "
    "pair (pv count + decimal-accumulated value sum); exact streaming "
    "UV lives in uv_first_visit_stream, and the production app's "
    "approx_count_distinct twin stays rows-only by design "
    "(sketches are not cross-engine).",
    tags=("streaming", "events", "agg", "window"),
)
def visitor_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _visitor_pv(
        spark,
        _visitor_flushed(_visitor_events(spark, sf_dir), "3 hours"),
        order_by=["ts", "event_id"],
    )


@register(
    "visitor_stats_late_drop",
    oracle="""
    WITH bounds AS (SELECT MIN(ts) AS mn, MAX(ts) AS mx FROM events),
    lab AS (
      SELECT event_id, ts, event_type, value,
             CASE WHEN ts < mn + INTERVAL 1 HOUR
                    OR ts >= mx - INTERVAL 1 HOUR THEN 2
                  WHEN event_id % 2 = 1 THEN 1
                  ELSE 0 END AS bat
      FROM events CROSS JOIN bounds
    ),
    wm AS (
      SELECT MAX(ts) - INTERVAL 1 HOUR AS wm0 FROM lab WHERE bat = 0
    ),
    kept AS (
      SELECT l.* FROM lab l CROSS JOIN wm
      WHERE bat < 2 OR date_trunc('hour', ts) + INTERVAL 1 HOUR > wm0
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum
    FROM kept
    GROUP BY 1, 2
    """,
    doc="W1/W2's LATE-DATA DROP certified as a semantic, not assumed "
    "(r14 VERDICT #3 — every other replay is time-ordered so the "
    "drop path never fires): the visitor_stats tumbling window agg "
    "over a deliberately OUT-OF-ORDER replay. Batch 0 carries the "
    "even-id mid-range rows (its max sets the watermark), batch 1 "
    "the odd-id mid-range rows (a spacer — Spark applies the "
    "late-row filter with a ONE-BATCH-LAGGED watermark: batch N "
    "drops against the watermark computed after batch N-2, while "
    "eviction uses the batch-N-1 value; both visible in the "
    "StateStoreSave plan node and probed empirically), batch 2 "
    "delivers the earliest-hour rows (now late: window end <= the "
    "lagged watermark -> DROPPED, boundary equality included — "
    "probed) together with the withheld last-hour rows (window end "
    "past the watermark -> admitted), and batch 3's sentinel "
    "flushes. The oracle states the admission rule the engine "
    "enforces — keep iff on-time OR window_end > max(batch-0 ts) - "
    "1h — so a green row certifies the engine dropped EXACTLY the "
    "late set, nothing more, nothing less; the spacer batch keeps "
    "the rule's anchor SQL-derivable. Reference semantics "
    "RT/app/dwm/OrderWideApp.java:57-62 (the 5s "
    "BoundedOutOfOrderness assigner). Scale: the drop is a "
    "stateless per-row filter against a broadcast scalar inside the "
    "engine; state stays watermark-bounded regardless of how late "
    "the stragglers are — this query certifies that contract.",
    tags=("streaming", "events", "agg", "window", "watermark"),
)
def visitor_stats_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _visitor_events(spark, sf_dir)
    bounds = src.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx"))
    # documented precondition, enforced loudly (the OHLC null-ts
    # pattern): the replay's late/held/mid split needs the corpus to
    # span well past the window + delay, or batch 0's watermark anchor
    # is empty and the admission rule degenerates
    b = bounds.collect()[0]
    if b["mn"] is None or (b["mx"] - b["mn"]).total_seconds() < 3 * 3600:
        raise ValueError(
            "visitor_stats_late_drop: events must span >= 3 hours for the "
            f"late/held split to be well-defined (got {b['mn']}..{b['mx']})"
        )
    lab = (
        _visitor_flushed(src, "3 hours")
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            "bat",
            F.when(F.col("event_type") == "_sentinel", 3)
            .when(
                (F.col("ts") < F.col("mn") + F.expr("INTERVAL 1 HOUR"))
                | (F.col("ts") >= F.col("mx") - F.expr("INTERVAL 1 HOUR")),
                2,
            )
            .when(F.col("event_id") % 2 == 1, 1)
            .otherwise(0),
        )
        .select("event_id", "ts", "event_type", "value", "bat")
    )
    return _visitor_pv(
        spark,
        lab,
        order_by=["bat", "ts", "event_id"],
        n_files=4,
        file_of=F.col("bat"),
        cache_key=f"visitor_late_drop:{sf_dir}",
    )


@register(
    "visitor_stats_sliding_stream",
    oracle=_SQL_VISITOR_SLIDING,
    doc="A1, streaming SLIDING windows — completes the streaming "
    "window-family trio (tumbling = visitor_stats_stream, "
    "session = session_stats_stream): the real watermarked "
    "hop-window aggregate (window(ts, '2 hours', '1 hour')) over "
    "a time-ordered replay, flushed by a sentinel row 4 hours "
    "past the data (every real window end then trails the "
    "watermark). Per-row fan-out is the fixed window/slide = 2; "
    "state is one row per (open window, type), bounded by "
    "window-count x types regardless of event volume. Shares the "
    "batch query's unnested-hops oracle verbatim.",
    tags=("streaming", "events", "agg", "window"),
)
def visitor_stats_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _visitor_pv(
        spark,
        _visitor_flushed(_visitor_events(spark, sf_dir), "4 hours"),
        window=VISITOR_SLIDE,
        order_by=["ts", "event_id"],
        n_files=2,
    )


@register(
    "order_wide_stream",
    oracle="""
    WITH src AS (SELECT * FROM events WHERE event_id % 4 < 2),
    o AS (SELECT event_id AS order_id, ts FROM src),
    d AS (
      SELECT event_id AS detail_order_id,
             CASE WHEN event_id % 2 = 0 THEN ts + INTERVAL 2 SECOND
                  ELSE ts + INTERVAL 7 SECOND END AS ts,
             value
      FROM src
    )
    SELECT o.order_id, d.value,
           'bucket_' || CAST(o.order_id % 10 AS VARCHAR) AS bucket_name
    FROM o JOIN d ON d.detail_order_id = o.order_id
      AND d.ts >= o.ts - INTERVAL 5 SECOND
      AND d.ts <= o.ts + INTERVAL 5 SECOND
    """,
    doc="J1+J3, streaming path under the oracle — the real watermarked "
    "STREAM-STREAM interval join (OrderWideApp's plan, RT/app/dwm/"
    "OrderWideApp.java:80-89, intervalJoin between(-5s,+5s)) plus the "
    "broadcast dim enrichment finishing its TODO 5, replayed from an "
    "events-derived order/detail pair (even ids land +2s inside the "
    "interval, odd ids +7s outside) with sentinel rows flushing both "
    "sides' watermarks. Completes the streaming families under the "
    "gate: keyed state, merging windows, tumbling windows, and now "
    "the two-sided join state.",
    tags=("join", "interval", "streaming", "events"),
)
def order_wide_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic 1-in-2 sample: bounds the replay-harness cost of
    # the two-sided join state; the app's semantics are id-agnostic and
    # the oracle applies the identical predicate
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("event_id") % 4 < 2
    )
    ts = F.col("ts").cast("timestamp")
    orders = events.select(F.col("event_id").alias("order_id"), ts.alias("ts"))
    details = events.select(
        F.col("event_id").alias("detail_order_id"),
        F.when(F.col("event_id") % 2 == 0, ts + F.expr("INTERVAL 2 SECONDS"))
        .otherwise(ts + F.expr("INTERVAL 7 SECONDS"))
        .alias("ts"),
        "value",
    )
    reg = replay_registry(
        "gmall_owstream_",
        dwd_order_info=(with_sentinel(orders, "1 hour", order_id=-1), 2, ["ts", "order_id"]),
        dwd_order_detail=(
            with_sentinel(details, "1 hour", detail_order_id=-2, value=0.0),
            2,
            ["ts", "detail_order_id"],
        ),
    )
    dim = local_table(
        spark, [(i, f"bucket_{i}") for i in range(10)], "bucket_id long, bucket_name string"
    )
    run_to_end(
        spark,
        reg,
        lambda: order_wide_app(
            spark,
            reg,
            os.path.join(reg.root, "ckpt"),
            dims=[(dim, F.col("order_id") % 10 == F.col("bucket_id"), ["bucket_id", "bucket_name"])],
        ),
    )
    return (
        reg.read_batch(spark, "dwm_order_wide")
        .filter(F.col("order_id") >= 0)
        .select("order_id", "value", "bucket_name")
    )


@register(
    "base_db_stream",
    oracle="""
    SELECT 'fact' AS branch,
           COUNT(*) AS ct,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 NOT IN (0, 1, 2)
    UNION ALL
    SELECT 'dim' AS branch,
           COUNT(*) AS ct,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 IN (1, 2)
    """,
    doc="R2/K2/K3/K4 end-to-end under the oracle — the real BaseDbApp "
    "twin (RT/app/dwd/BaseDbApp.java:24-94) run over a CDC-envelope "
    "replay: delete filtering, broadcast-config routing, the "
    "dynamic-topic fact sink (JSON values re-parsed to recover keys), "
    "and the idempotent dim MERGE. The fixture op mix is arithmetic in "
    "the key (key%10: 0 delete, 1-2 update, else insert), so the "
    "oracle states each branch's count and key-sum directly from "
    "orders.",
    tags=("cdc", "routing", "streaming", "dim"),
)
def base_db_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic 1-in-2 sample, same predicate in the oracle —
    # bounds the per-batch MERGE cost of the replay harness
    orders = load_tables(spark, sf_dir, "orders")["orders"].filter(
        F.col("o_orderkey") % 2 == 0
    )
    env = envelope_from_table(orders, "o_orderkey", "gmall", "order_info").withColumn(
        "k",
        F.coalesce(
            F.element_at("after", "o_orderkey"), F.element_at("before", "o_orderkey")
        ).cast("long"),
    )
    reg = replay_registry("gmall_basedb_", ods_base_db=(env, 3, ["type", "k"]))
    config = local_table(
        spark,
        [
            ("order_info", "insert", "kafka", "dwd_order_info", "o_orderkey,o_totalprice", "o_orderkey", None),
            ("order_info", "update", "hbase", "dim_order_info", "o_orderkey,o_totalprice", "o_orderkey", None),
        ],
        "sourceTable string, operateType string, sinkType string, sinkTable string, "
        "sinkColumns string, sinkPk string, sinkExtend string",
    )
    store, ckpt = DimStore(os.path.join(reg.root, "dims")), os.path.join(reg.root, "ckpt")
    run_to_end(spark, reg, lambda: base_db_app(spark, reg, store, config, ckpt))
    fact = reg.read_batch(spark, "dwd_fact_log").agg(
        F.lit("fact").alias("branch"),
        F.count("*").alias("ct"),
        F.sum(F.get_json_object("value", "$.o_orderkey").cast("long")).alias("key_sum"),
    )
    dim = store.read(spark, "dim_order_info").agg(
        F.lit("dim").alias("branch"),
        F.count("*").alias("ct"),
        F.sum(F.col("o_orderkey").cast("long")).alias("key_sum"),
    )
    return fact.unionByName(dim)


@register(
    "payment_wide_stream",
    oracle="""
    WITH src AS (SELECT * FROM events WHERE event_id % 4 < 2)
    SELECT event_id AS order_id, value,
           strftime(ts + INTERVAL 10 MINUTE, '%Y-%m-%d %H:%M:%S') AS pay_time
    FROM src WHERE event_id % 2 = 0
    """,
    doc="J2, streaming path under the oracle — the reference's SECOND "
    "interval join, with ASYMMETRIC bounds (payment follows the order "
    "by up to 15 minutes, precedes it by at most 5 seconds; "
    "RT/app/dwm/PaymentWideApp.java:76-85): the real watermarked "
    "stream-stream join over a replayed payment/wide pair, even ids "
    "paying +10 min (inside), odd ids +30 min (outside). The "
    "asymmetric window means the two sides retain state for different "
    "horizons — the case symmetric order_wide_stream cannot cover.",
    tags=("join", "interval", "streaming", "events"),
)
def payment_wide_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"].filter(
        F.col("event_id") % 4 < 2
    )
    ts = F.col("ts").cast("timestamp")
    wide = events.select(F.col("event_id").alias("order_id"), ts.alias("ts"), "value")
    payments = events.select(
        F.col("event_id").alias("payment_order_id"),
        F.when(F.col("event_id") % 2 == 0, ts + F.expr("INTERVAL 10 MINUTES"))
        .otherwise(ts + F.expr("INTERVAL 30 MINUTES"))
        .alias("ts"),
    )
    reg = replay_registry(
        "gmall_pwstream_",
        dwd_payment_info=(
            with_sentinel(payments, "2 hours", payment_order_id=-1), 2, ["ts", "payment_order_id"]
        ),
        dwm_order_wide=(
            with_sentinel(wide, "2 hours", order_id=-2, value=0.0), 2, ["ts", "order_id"]
        ),
    )
    run_to_end(spark, reg, lambda: payment_wide_app(spark, reg, os.path.join(reg.root, "ckpt")))
    return (
        reg.read_batch(spark, "dwm_payment_wide")
        .filter(F.col("order_id") >= 0)
        .select(
            "order_id",
            "value",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("pay_time"),
        )
    )


@register(
    "doc_quality_gate_stream",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents),
    c AS (
      SELECT doc_id, text,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_filter(toks, x -> x IN {SQL_STOPS})) AS DOUBLE)
               / len(toks) AS stop_score,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / len(toks) AS mean_len
      FROM t
    ),
    g AS (
      SELECT text,
             least(n / 200.0, 1.0) * 0.4 + stop_score * 0.3
               + (1.0 - least(abs(mean_len - 5.0) / 10.0, 1.0)) * 0.3 AS quality
      FROM c
      WHERE stop_score >= 0.05
        AND least(n / 200.0, 1.0) * 0.4 + stop_score * 0.3
              + (1.0 - least(abs(mean_len - 5.0) / 10.0, 1.0)) * 0.3 >= 0.5
    ),
    d AS (
      SELECT md5(text) AS h, MIN(length(text)) AS len, MIN(quality) AS q
      FROM g GROUP BY md5(text)
    )
    SELECT COUNT(*) AS kept_ct,
           (SELECT COUNT(*) FROM documents) - COUNT(*) AS rejected_ct,
           CAST(SUM(len) AS BIGINT) AS len_checksum,
           CAST(SUM(CAST(q AS DECIMAL(30,6))) AS DOUBLE) AS quality_sum
    FROM d
    """,
    doc="The ingest-time corpus front gate under the external oracle — "
    "the REAL doc_quality_gate_app (language + quality thresholds as "
    "map-only stream expressions, then exact digest dedup via native "
    "dropDuplicates with watermark-bounded state) replayed over the "
    "documents fixture in 3 micro-batches. The checked aggregate is "
    "deliberately digest-keyed (count, per-digest text-length and "
    "quality checksums): which of two same-text twins survives the "
    "in-batch dropDuplicates race is nondeterministic, but every "
    "text-derived value is twin-invariant, so the oracle re-derives "
    "the gate + first-per-digest semantics exactly.",
    tags=("streaming", "llm-prep", "replay", "quality"),
)
def doc_quality_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    lines = _doc_lines(docs)
    reg = replay_registry(
        "gmall_qgate_",
        ods_documents=(
            lines.select("doc_id", "text", "lang", "source", "n_chars", "ts"), 2, ["ts", "doc_id"]
        ),
    )
    run_to_end(spark, reg, lambda: doc_quality_gate_app(spark, reg, os.path.join(reg.root, "ckpt")))
    out = textops.with_tokens(reg.read_batch(spark, "dwd_documents_quality"))
    per_digest = (
        out.select(
            F.md5("text").alias("h"),
            F.length("text").alias("len"),
            textops.quality_score(F.col("toks"), F.col("text")).alias("q"),
        )
        .groupBy("h")
        .agg(F.min("len").alias("len"), F.min("q").alias("q"))
    )
    total = docs.agg(F.count("*").alias("total_ct"))
    return (
        per_digest.agg(
            F.count("*").alias("kept_ct"),
            F.sum("len").cast("long").alias("len_checksum"),
            F.sum(F.col("q").cast("decimal(30,6)")).cast("double").alias("quality_sum"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "kept_ct",
            (F.col("total_ct") - F.col("kept_ct")).alias("rejected_ct"),
            "len_checksum",
            "quality_sum",
        )
    )


# -- streaming incremental SemDeDup under the oracle --------------------

_N_EMB_BATCHES = 3


def _emb_incdedup_oracle() -> str:
    """Unrolled greedy replay of emb_incremental_dedup_app in SQL.

    The quantizer is fit on EPOCH 0's vectors only (the app's
    bootstrap batch: vec_id % 3 == 0 under the replay split), every
    vector is assigned with those centroids, and the app's cap scopes
    are mirrored exactly: in-batch candidates cap by BATCH-LOCAL
    cluster occupancy ((f, c)), cross-corpus candidates cap by the
    KEPT-store's per-cluster occupancy with the min-id representative
    always kept pairing — the same two scopes as the MinHash replay
    oracle, over learned clusters instead of band buckets."""

    n = _N_EMB_BATCHES
    cos = f"{SQL_DOT.format(a='x.embedding', b='y.embedding')} / (x.nrm * y.nrm)"

    epoch_ctes = []
    epoch_ctes.append(
        """kept0 AS (
  SELECT vec_id FROM av WHERE f = 0
    AND vec_id NOT IN (SELECT vec_id FROM selfdrop)
)"""
    )
    for f in range(1, n):
        prior = " UNION ALL ".join(f"SELECT vec_id FROM kept{p}" for p in range(f))
        epoch_ctes.append(
            f"""store{f} AS (
  SELECT av.* FROM av WHERE av.vec_id IN ({prior})
),
sstat{f} AS (
  SELECT c, COUNT(*) AS cct, MIN(vec_id) AS rep FROM store{f} GROUP BY c
),
xc{f} AS (
  SELECT DISTINCT nv.vec_id AS ida, sv.vec_id AS idb
  FROM av nv
  JOIN store{f} sv ON nv.c = sv.c
  JOIN sstat{f} t ON sv.c = t.c
  WHERE nv.f = {f} AND (t.cct <= {SEMDEDUP_MAX_CLUSTER} OR sv.vec_id = t.rep)
),
xdrop{f} AS (
  SELECT DISTINCT xc{f}.ida AS vec_id
  FROM xc{f} JOIN av x ON xc{f}.ida = x.vec_id
             JOIN av y ON xc{f}.idb = y.vec_id
  WHERE {cos} >= {SEMDEDUP_T}
),
kept{f} AS (
  SELECT vec_id FROM av WHERE f = {f}
    AND vec_id NOT IN (SELECT vec_id FROM selfdrop)
    AND vec_id NOT IN (SELECT vec_id FROM xdrop{f})
)"""
        )
    union = "\nUNION ALL ".join(f"SELECT vec_id FROM kept{f}" for f in range(n))
    return f"""
    WITH {_sql_kmeans_ctes_subset(f"vec_id % {n} = 0")},
    av AS (
      SELECT vec_id, CAST(c AS INTEGER) AS c, embedding,
             vec_id % {n} AS f,
             sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
      FROM afinal
    ),
    bstat AS (
      SELECT f, c, COUNT(*) AS cct, MIN(vec_id) AS rep FROM av GROUP BY f, c
    ),
    scand AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb
      FROM av a
      JOIN bstat ON a.f = bstat.f AND a.c = bstat.c
                AND bstat.cct <= {SEMDEDUP_MAX_CLUSTER}
      JOIN av b ON a.f = b.f AND a.c = b.c AND a.vec_id < b.vec_id
      UNION
      SELECT t.rep AS ida, av.vec_id AS idb
      FROM av JOIN bstat t ON av.f = t.f AND av.c = t.c
      WHERE t.cct > {SEMDEDUP_MAX_CLUSTER} AND av.vec_id > t.rep
    ),
    selfdrop AS (
      SELECT DISTINCT scand.idb AS vec_id
      FROM scand JOIN av x ON scand.ida = x.vec_id
                 JOIN av y ON scand.idb = y.vec_id
      WHERE {cos} >= {SEMDEDUP_T}
    ),
    {",".join(epoch_ctes)}
    {union}
    """


@register(
    "embedding_incremental_stream",
    oracle=_emb_incdedup_oracle(),
    doc="Streaming incremental SemDeDup under the external oracle: the "
    "real foreachBatch app (streaming/pipelines.emb_incremental_"
    "dedup_app — bootstrap quantizer fit on the first batch, "
    "epoch-idempotent kept-vector store, cluster-keyed cross join "
    "with corpus-side rep cap) replays `embeddings` in 3 micro-"
    "batches split by vec_id % 3, and the oracle unrolls the same "
    "greedy rule in SQL: per batch, drop in-batch cosine-verified "
    "larger ids within a cluster, then drop any vector verifying "
    ">= threshold against a previously KEPT vector in its cluster. "
    "The embedding twin of dedup_incremental_stream — the engine's "
    "continuous-ingest shape for the semantic-dedup family.",
    tags=("similarity", "kmeans", "dedup", "streaming", "incremental"),
)
def embedding_incremental_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    reg = replay_registry(
        "gmall_embinc_",
        ods_embeddings=(emb, _N_EMB_BATCHES, ["vec_id"], F.col("vec_id") % _N_EMB_BATCHES),
    )
    _run_store_app(spark, reg, emb_incremental_dedup_app)
    return reg.read_batch(spark, "dwd_embeddings_unique").select("vec_id")


@register(
    "decontaminate_semantic_stream",
    oracle=SQL_DECON_SEMANTIC,
    doc="The semantic-decontamination screen maintained "
    "INCREMENTALLY (r14 VERDICT #2): train embeddings arrive as a "
    "3-batch id-ordered replay while the eval benchmark is the "
    "static side; streaming/pipelines.decon_screen_app stashes "
    "pre-fit epochs, bootstrap-fits the quantizer the moment the "
    "batch fit's exact sample has arrived (adaptive k provisioned "
    "from the train count — the Bloom-width contract), screens "
    "the backlog, then screens each later batch against the "
    "broadcast eval side. The screen is per-train-row independent "
    "once the quantizer is fixed, so the accumulated epoch-store "
    "flags ARE the batch flag set — the twin shares "
    "decontaminate_semantic's oracle VERBATIM; a green row "
    "certifies fit, assignment and every cosine bit-for-bit "
    "across build paths. Crash contract: poison-epoch and "
    "checkpoint-rewind duplicate-delivery tests on the stash, "
    "fit-marker and flag stores.",
    tags=("similarity", "kmeans", "llm-prep", "decontamination",
          "streaming", "incremental"),
)
def decontaminate_semantic_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    train = emb.filter(F.col("vec_id") % EVAL_MOD != 0)
    ev = emb.filter(F.col("vec_id") % EVAL_MOD == 0)
    n_train = train.count()
    reg = replay_registry("gmall_deconstream_", ods_embeddings=(train, 3, ["vec_id"]))
    store = _run_store_app(spark, reg, decon_screen_app, eval_df=ev, expected_train=n_train)
    return merged_decon_flags(spark, store)


@register(
    "contrastive_triplets_stream",
    oracle=SQL_CONTRASTIVE_TRIPLETS,
    doc="The contrastive-training table mined INCREMENTALLY — "
    "corpus vectors arrive as a 3-batch id-ordered replay; "
    "streaming/pipelines.triplet_mine_app stashes pre-fit epochs, "
    "bootstrap-fits the fixed-k quantizer the moment the batch "
    "fit's exact sample has arrived, pins the assigned PROBE "
    "frame into the store, scores the backlog, then scores each "
    "later batch map-side against the broadcast probes. Each "
    "scored candidate is a pure function of (centroids, probes, "
    "one corpus vector), so the accumulated epoch store IS the "
    "batch query's scored frame; the read-side triplet tail "
    "(triplets_from_scored) is shared with contrastive_triplets "
    "and the twin shares its oracle VERBATIM — a green row "
    "certifies fit, probe assignment, every cosine and both "
    "rankings bit-for-bit across build paths. Crash contract: "
    "poison-epoch and fit-epoch duplicate-delivery tests on the "
    "stash/centroid/probe/scored stores. This is the shape that "
    "keeps a training-data miner CURRENT while the corpus grows: "
    "per-epoch cost is batch x broadcast-probes, the store is "
    "append-only and never rescanned by the app.",
    tags=("similarity", "ann", "llm-prep", "training-data",
          "streaming", "incremental"),
)
def contrastive_triplets_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    n_corpus = emb.count()
    reg = replay_registry("gmall_tripstream_", ods_embeddings=(emb, 3, ["vec_id"]))
    store = _run_store_app(spark, reg, triplet_mine_app, expected_corpus=n_corpus)
    # epochs are disjoint corpus slices, so the union IS the batch scored frame
    scored = scoped_persist(
        read_store(spark, os.path.join(store, "scored")).select("qid", "cid", "cos_sim")
    )
    return triplets_from_scored(scored)


@register(
    "quality_perceptron_stream",
    oracle=SQL_PTRON_FILTER,
    doc="The in-engine perceptron quality gate run the way a "
    "production stream runs it — documents arrive as a 3-batch "
    "id-ordered replay; streaming/pipelines.ptron_gate_app stashes "
    "pre-fit epochs, trains the classifier the moment the batch "
    "fit's exact sample has arrived (centering stats, teacher "
    "median threshold and the full synchronous-update loop — all "
    "on the fit-target lowest doc_ids, = the batch sample), "
    "persists the ONE-ROW model card, scores the backlog, then "
    "scores each later batch map-side and writes per-language "
    "(total, kept) count grids. Grids are ADDITIVE (the "
    "CMS/Bloom/histogram mergeability contract), so the summed "
    "store equals the batch gate's counts exactly and the twin "
    "shares quality_perceptron_filter's oracle VERBATIM. Crash "
    "contract: poison-epoch and fit-epoch duplicate-delivery "
    "tests on the stash/model/grid stores. Every store write is "
    "<= n_languages rows + the one-row model card at ANY corpus "
    "size — the sample-bounded fit is what makes the gate "
    "runnable continuously at 100 TB.",
    tags=("llm-prep", "quality", "classifier", "model",
          "streaming", "incremental"),
)
def quality_perceptron_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text", "lang"
    )
    n_docs = docs.count()
    reg = replay_registry("gmall_ptronstream_", ods_documents=(docs, 3, ["doc_id"]))
    return merged_ptron_gate(
        spark, _run_store_app(spark, reg, ptron_gate_app, expected_docs=n_docs)
    )


@register(
    "asof_click_stream",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS build_ts, MAX(value) AS build_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    p AS (
      SELECT event_id, user_id, ts AS probe_ts, value AS probe_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.probe_ts, p.probe_value,
           c.build_ts, c.build_value
    FROM p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.probe_ts >= c.build_ts
    """,
    doc="Streaming temporal (as-of) join — the stream-stream twin of "
    "asof_click_attribution, run as the REAL keyed-state operator "
    "(streaming/stateful.temporal_join) over a time-ordered replay: "
    "click rows update each user's latest-click ValueState, purchase "
    "rows emit enriched with the state at their event-time position "
    "(LEFT semantics — purchases before any click carry NULLs). This "
    "is Flink's temporal-join shape under the external oracle (DuckDB "
    "ASOF LEFT JOIN): per-key state is ONE carried row forever, and "
    "the in-batch (ts, build-first, max-value) sort reproduces the "
    "batch twin's inclusive tie rule exactly. Micro-batch boundaries "
    "fall on event-TIME cuts, never between equal-ts rows (the "
    "production analogue of watermark-aligned triggers), so the tie "
    "rule can never lose a same-instant build/probe pair to the "
    "split; the carried state also re-enters each batch's sort, so "
    "equal-ts builds across batches max-merge.",
    tags=("state", "streaming", "events", "join", "asof"),
)
def asof_click_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    ev = events.filter(F.col("event_type").isin("click", "purchase"))

    out = replay_stateful(
        spark, ev,
        stateful.temporal_join,
        order_by=["ts", "event_id"],
        cache_key=f"events_tspan:{sf_dir}", file_of=_time_halves(ev), n_files=2,
    )
    return out.select(
        "event_id", "user_id", "probe_ts", "probe_value", "build_ts", "build_value"
    )


@register(
    "funnel_attribution_stream",
    oracle=_SQL_FUNNEL_ATTR,
    doc="Multi-step funnel attribution as ONE keyed stateful stream "
    "(streaming/stateful.funnel_chain) — the CEP pattern state the "
    "reference's flink-cep dependency implies beyond the bounce "
    "job: a purchase emits its user's latest click, and for THAT "
    "click the view resolved AT CLICK ARRIVAL (stored with the "
    "click — the state's single view slot may already hold a "
    "newer view than the stored click should see, so the link "
    "binds when the pattern step fires, exactly as a Flink CEP "
    "chain would). State per key is two O(1) levels: latest view "
    "ts + latest click (ts, view-at-click). Carries are "
    "vectorized positional ffills; in-batch order (ts, "
    "view<click<purchase) gives the chained-ASOF inclusive rule, "
    "and micro-batch boundaries cut on event-time value so "
    "same-instant stage pairs never straddle a batch. Oracle: the "
    "batch funnel_attribution's chained DuckDB ASOF SQL verbatim "
    "— the stream is value-checked against the two-asof_join "
    "composition.",
    tags=("state", "streaming", "events", "cep", "asof", "funnel"),
)
def funnel_attribution_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    ev = events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("event_id", "ts", "user_id", "event_type")
    # stage ties: the operator contract (like asof_join) wants one
    # row per (user, ts) per stage; the fixture's stages are
    # tie-free (asserted cheaply by the oracle match — a tie would
    # desync) so rows pass through unaggregated
    out = replay_stateful(
        spark, ev,
        stateful.funnel_chain,
        order_by=["ts", "event_id"],
        cache_key=f"events_funnel_tspan:{sf_dir}", file_of=_time_halves(ev), n_files=2,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("probe_ts").alias("purchase_ts"),
        "click_ts",
        "view_ts",
        F.when(F.col("view_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .otherwise(1)
        .alias("depth"),
    )


@register(
    "funnel_attribution_4_stream",
    oracle=_SQL_FUNNEL_ATTR4,
    doc="FOUR-stage funnel attribution as ONE keyed stateful "
    "stream — the N-stage generalization proven past the shape it "
    "was built on (streaming/stateful.funnel_chain_n with stages "
    "signup/view/click, probe purchase; the 3-stage certified "
    "queries run through the same operator as its M=2 instance). "
    "State per key is three chain vectors (6 scalars), each link "
    "bound at its stage's arrival and STORED — the newer-event "
    "hazard the 3-stage edge test pins applies at every level. "
    "Oracle: the batch funnel_attribution_4's chained DuckDB ASOF "
    "SQL verbatim.",
    tags=("state", "streaming", "events", "cep", "asof", "funnel"),
)
def funnel_attribution_4_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    ev = events.filter(
        F.col("event_type").isin("signup", "view", "click", "purchase")
    ).select("event_id", "ts", "user_id", "event_type")
    out = replay_stateful(
        spark,
        ev,
        lambda df: stateful.funnel_chain_n(
            df, stages=("signup", "view", "click"), probe_type="purchase"
        ),
        order_by=["ts", "event_id"],
        cache_key=f"events_funnel4_tspan:{sf_dir}",
        file_of=_time_halves(ev),
        n_files=2,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("probe_ts").alias("purchase_ts"),
        "click_ts",
        "view_ts",
        "signup_ts",
        F.when(F.col("signup_ts").isNotNull(), 4)
        .when(F.col("view_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .otherwise(1)
        .alias("depth"),
    )


@register(
    "funnel_attribution_windowed_stream",
    oracle=_SQL_FUNNEL_ATTR_WINDOWED,
    doc="The within()-window attribution rule over the LIVE CEP "
    "chain: the keyed funnel_chain state resolves last-touch "
    "links exactly as before (the stored-attachment contract is "
    "window-agnostic — links bind at arrival), and the lookback "
    "gate is a map-side CASE on the emitted rows, so the "
    "windowed stream shares the windowed batch oracle verbatim "
    "and the stream pays nothing extra. This is where the CEP "
    "state design earns its keep: because every link is STORED "
    "with its stage, the gate can be applied at emission as a "
    "native timestamp-interval comparison — a recompute-from-"
    "state design would have already lost the stale links it "
    "needs to void.",
    tags=("state", "streaming", "events", "cep", "asof", "funnel"),
)
def funnel_attribution_windowed_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    ev = events.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("event_id", "ts", "user_id", "event_type")
    out = replay_stateful(
        spark, ev,
        stateful.funnel_chain,
        order_by=["ts", "event_id"],
        cache_key=f"events_funnel_tspan:{sf_dir}", file_of=_time_halves(ev), n_files=2,
    ).select(
        "event_id",
        "user_id",
        F.col("probe_ts").alias("purchase_ts"),
        "click_ts",
        "view_ts",
    )
    return _windowed_funnel_select(out)


@register(
    "doc_pagerank_stream",
    oracle=_sql_doc_pagerank(),
    doc="Corpus-vertex PageRank over an INCREMENTALLY discovered "
    "similarity graph: the real foreachBatch app (streaming/"
    "pipelines.similarity_graph_app) replays `documents` in 2 "
    "micro-batches (doc_id % 2 — id order independent of arrival "
    "order, so pairs straddle the epochs both ways) and discovers "
    "each batch's exact threshold pairs against everything seen "
    "so far via the hash-order prefix-filter join (prefixes "
    "computed once at arrival and stored; a pair surfaces when "
    "its later doc arrives — the completeness theorem for a "
    "stable order, hypothesis-pinned). The accumulated pair "
    "store then feeds the SAME co-partitioned merge-join rank "
    "loop as doc_pagerank, and the query shares doc_pagerank's "
    "chained-CTE oracle VERBATIM — the green row certifies the "
    "stream reconstructed the batch prefix-filter graph "
    "bit-for-bit before a single rank step ran.",
    tags=("documents", "graph", "dedup", "streaming", "incremental"),
)
def doc_pagerank_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    reg = replay_registry(
        "gmall_simgraph_",
        ods_documents=(docs.select("doc_id", "text"), 2, ["doc_id"], F.col("doc_id") % 2),
    )
    store = _run_store_app(spark, reg, similarity_graph_app)
    pairs = spark.read.parquet(os.path.join(store, "pairs")).select(
        "doc_a", "doc_b"
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .withColumn("w", F.lit(1))
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    pr = pagerank_partitioned(
        nodes,
        edges,
        iters=PAGERANK_ITERS,
        d=float(PAGERANK_D),
        reset=float(PAGERANK_RESET),
        num_partitions=DOC_PR_PARTITIONS,
    )
    return pr.select(F.col("node").alias("doc_id"), "pagerank")


_N_SUBSTR_BATCHES = 2


def _sql_substring_incremental(n_epochs: int) -> str:
    """Unrolled incremental-semantics oracle for substring_dedup_stream:
    per epoch e, the duplicated-window set is derived over ALL docs
    with epoch <= e (MIN(doc_id) <> MAX(doc_id) — the app's exact
    min/max distinct-doc rule), and starts are taken for epoch-e docs
    only; the shared res tail then cuts every doc with its
    at-arrival starts. An early doc keeping a run that only later
    becomes duplicated is the SEMANTICS, reproduced here — not drift."""

    L = D.SUBSTR_RUN
    per_epoch = []
    for e in range(n_epochs):
        per_epoch.append(f"""
    dup{e} AS (SELECT gh FROM (
        SELECT gh, MIN(doc_id) AS lo, MAX(doc_id) AS hi
        FROM grams WHERE ep <= {e} GROUP BY gh) WHERE lo <> hi),
    st{e} AS (SELECT doc_id, list_sort(list(pos)) AS starts
              FROM grams JOIN dup{e} USING (gh)
              WHERE ep = {e} GROUP BY doc_id)""")
    st_union = " UNION ALL ".join(f"SELECT * FROM st{e}" for e in range(n_epochs))
    return f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t,
                         doc_id % {n_epochs} AS ep FROM documents),
    gr AS (SELECT doc_id, ep, t,
                  unnest(range(1, len(t) - {L} + 2)) AS i FROM toks),
    grams AS (SELECT doc_id, ep, i - 1 AS pos,
                     substr(md5(array_to_string(t[i:i+{L - 1}], ' ')), 1, 16) AS gh
              FROM gr),
    {",".join(per_epoch)},
    st AS ({st_union}),
    {_sql_substr_res_tail()}
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_removed AS BIGINT) AS n_removed,
           CAST(n_spans AS BIGINT) AS n_spans, cut_hash
    FROM res
    """


@register(
    "substring_dedup_stream",
    oracle=_sql_substring_incremental(_N_SUBSTR_BATCHES),
    doc="Streaming incremental substring-level dedup under the external "
    "oracle: the real foreachBatch app (streaming/pipelines."
    "substring_dedup_app) replays `documents` in 2 micro-batches split "
    "by doc_id % 2; each batch is cut against the duplicated-window "
    "set accumulated so far (prior epochs + the batch itself) and "
    "contributes its windows to the index store. The index holds only "
    "(gh, MIN doc, MAX doc) per window — 'in >= 2 distinct docs' is "
    "exactly min != max, so the cross-epoch merge is a fixed-width "
    "min/max groupBy: idempotent under replay (the HLL-merge class), "
    "never a pair join, corpus growth touches the batch only through "
    "this bounded index. Incremental semantics (early docs keep runs "
    "that later become duplicated; the batch substring_dedup is the "
    "periodic full reconcile — the lambda split every incremental "
    "dedup app here documents) are unrolled EXACTLY in the per-epoch "
    "oracle CTEs, which share the batch oracle's res tail verbatim.",
    tags=("dedup", "substring", "streaming", "incremental"),
)
def substring_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    reg = replay_registry(
        "gmall_substr_",
        ods_documents=(docs, _N_SUBSTR_BATCHES, ["doc_id"], F.col("doc_id") % _N_SUBSTR_BATCHES),
    )
    _run_store_app(spark, reg, substring_dedup_app)
    return reg.read_batch(spark, "dwd_documents_cut").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.col("n_spans").cast("long").alias("n_spans"),
        "cut_hash",
    )


@register(
    "heavy_hitters_stream",
    oracle=_sql_cms_audit(),
    doc="The CMS heavy-hitter audit with the sketch built by the "
    "REAL streaming app (streaming/pipelines.cms_sketch_app): the "
    "documents corpus replays in 2 micro-batches, each batch "
    "contributes its own counter grid to an epoch-addressed store, "
    "and the live sketch is the per-(row, bucket) SUM over epochs. "
    "Because CMS merge is plain addition, the streamed sketch is "
    "BIT-IDENTICAL to the one-shot batch grid — so this query "
    "shares heavy_hitters_cms's oracle verbatim, and a green row "
    "here certifies the mergeability contract itself (plus the "
    "epoch-overwrite crash rule: a retried batch can never "
    "double-count). Per-key state nowhere; the sketch is the "
    "state, depth*width rows forever.",
    tags=("streaming", "sketch", "replay", "text"),
)
def heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    lines = _doc_lines(docs)
    reg = replay_registry(
        "gmall_cms_", ods_documents=(lines.select("doc_id", "text", "ts"), 2, ["ts", "doc_id"])
    )
    grid = merged_store(spark, _run_store_app(spark, reg, cms_sketch_app), "cms_grid")
    toks = docs.select(F.explode(textops.tokenize(F.col("text"))).alias("tok"))
    topk = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_ct"))
        .orderBy(F.col("exact_ct").desc(), "tok")
        .limit(CMS_TOP)
    )
    return cms_estimate(topk, grid, "tok").select(
        "tok",
        "exact_ct",
        "cms_est",
        (F.col("cms_est") - F.col("exact_ct")).alias("over_ct"),
    )


@register(
    "behavior_pagerank_stream",
    oracle=_sql_behavior_pagerank(),
    doc="The behavior-graph PageRank with the transition edges "
    "extracted by a REAL keyed stateful stream "
    "(streaming/stateful.transition_pairs) instead of the batch "
    "lag window: state = each user's LAST event type (O(1) per "
    "key forever), each micro-batch shifts its sorted group rows "
    "and fills the first predecessor from the carry — so a "
    "transition whose two events STRADDLE a micro-batch boundary "
    "is emitted exactly once, by the batch seeing the second "
    "event. That cross-batch pair is precisely what a batch-local "
    "lead()/lag() inside foreachBatch would silently drop — the "
    "hazard that makes this an operator, not a window (cross-"
    "batch edge test pinned). Edge counts then aggregate and the "
    "5-step power iteration runs the SAME pagerank_ranks tail as "
    "the batch query, sharing its chained-CTE oracle verbatim — "
    "a green row certifies the stream's edge set equals the "
    "batch window's bit-for-bit. Replay shares the common "
    "2-batch events channel (no extra fixture write).",
    tags=("streaming", "state", "replay", "events", "graph", "stats"),
)
def behavior_pagerank_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_tables(spark, sf_dir, "events")["events"]
    pairs = replay_stateful(
        spark, events,
        stateful.transition_pairs,
        order_by=["ts", "event_id"],
        cache_key=f"events:{sf_dir}", n_files=2,
    )
    edges = pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))
    nodes = events.select(F.col("event_type").alias("node")).distinct()
    return pagerank_ranks(nodes, edges)


@register(
    "approx_distinct_hll_stream",
    oracle=_sql_hll_audit(),
    doc="The HLL cardinality audit with the registers maintained by "
    "the REAL streaming app (streaming/pipelines.hll_sketch_app): "
    "the events stream replays in 2 micro-batches, each batch "
    "contributes its own per-type register grid to an "
    "epoch-addressed store, and the live sketch is the "
    "per-(type, j) MAX over epochs. Register merge is MAX — the "
    "IDEMPOTENT member of the sketch family (CMS adds, Bloom ors, "
    "the histogram adds): any split, any replay, even an appended "
    "double-write yields the identical grid — so the streamed "
    "sketch is BIT-IDENTICAL to the one-shot batch grid and this "
    "query shares approx_distinct_hll's oracle verbatim; a green "
    "row certifies the mergeability contract itself. 2 "
    "micro-batches (split-independent, the r11 replay-floor "
    "rule); per-key state nowhere — the registers are the state, "
    "types*m rows forever.",
    tags=("streaming", "sketch", "replay", "events", "stats"),
)
def approx_distinct_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    lines = spread(ev, "event_id").select("event_id", "ts", "event_type")
    reg = replay_registry("gmall_hll_", ods_events=(lines, 2, ["ts", "event_id"]))
    regs = merged_store(spark, _run_store_app(spark, reg, hll_sketch_app), "hll_regs")
    return hll_audit_from_regs(spark, regs)


@register(
    "decontaminate_bloom_stream",
    oracle=sql_decontaminate_bloom(),
    doc="Bloom decontamination with the filter maintained by the "
    "REAL streaming app (streaming/pipelines.bloom_filter_app): "
    "the eval benchmark arrives as 2 micro-batches, each packing "
    "its OWN grams into an epoch-addressed word grid; the live "
    "filter is the per-word bit_or over epochs — a fixed-width "
    "Bloom filter is OR-MERGEABLE, so the streamed filter equals "
    "the one-shot batch bitset bit-for-bit and the query shares "
    "`decontaminate_bloom`'s oracle VERBATIM (the heavy_hitters "
    "pattern, with bit_or for addition). Width is provisioned "
    "once up front from the benchmark's gram count (the same "
    "memoized derivation as the batch query) — the Bloom "
    "operational contract: a saturated filter re-provisions by "
    "batch rebuild, never by silent widening. Crash rule = "
    "overwrite-own-epoch, pinned by the poison-epoch/restart "
    "test; train-side screening and the exact verify join are "
    "the batch operator unchanged.",
    tags=("streaming", "sketch", "replay", "llm-prep", "decontamination"),
)
def decontaminate_bloom_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    bits = decon_bloom_bits(spark, sf_dir)
    lines = _doc_lines(docs.filter(is_eval))
    reg = replay_registry(
        "gmall_bloom_",
        ods_eval_docs=(lines.select("doc_id", "text", "ts"), 2, ["ts", "doc_id"]),
    )
    store = _run_store_app(spark, reg, bloom_filter_app, bits=bits, ngram=DECON_NGRAM)
    words = merged_store(spark, store, "bloom_words")
    return D.bloom_decontaminate(
        docs, is_eval, ngram=DECON_NGRAM, bits=bits, bloom_words=words,
        grams=corpus_decon_grams(spark, sf_dir),
    )


@register(
    "perplexity_gate_stream",
    oracle=SQL_PERPLEXITY_FILTER,
    doc="The bigram-LM quality gate with the model maintained by the "
    "REAL streaming app (streaming/pipelines.lm_counts_app): the "
    "corpus replays in 2 micro-batches, each writing its own "
    "(w1, g, ct) count grid and distinct-token set to an "
    "epoch-addressed store; the live model SUMs the grids "
    "(additive merge over exact integers — the CMS member of the "
    "sketch family applied to a model fit), derives prefix totals "
    "from the MERGED grid and distincts the token sets, so the "
    "streamed model is BIT-IDENTICAL to the one-shot batch fit and "
    "this query shares `perplexity_filter`'s oracle VERBATIM — a "
    "green row certifies that the quality gate can be maintained "
    "incrementally at ingest time, never refit from scratch. 2 "
    "micro-batches (split-independent, the r11 replay-floor rule); "
    "no per-key state — the count grid IS the state, "
    "distinct-bigram rows however many docs flow. Same "
    "overwrite-own-epoch crash rule as the CMS app.",
    tags=("streaming", "replay", "llm-prep", "quality", "lm"),
)
def perplexity_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    lines = _doc_lines(docs)
    reg = replay_registry(
        "gmall_lm_", ods_documents=(lines.select("doc_id", "text", "ts"), 2, ["ts", "doc_id"])
    )
    model = merged_lm_model(spark, _run_store_app(spark, reg, lm_counts_app))
    # the batch family's staging, shared — not re-implemented here
    # (self-review r13): one staged token frame, one gram frame
    t, _staged, grams = _staged_grams(spark, sf_dir)
    scores = lm.doc_lm_scores(grams, model)
    return gate_output(t["documents"], scores)


@register(
    "events_gapfill_stream",
    oracle=SQL_GAPFILL_LOCF,
    doc="The locf gap-fill with the hourly rollup maintained by the "
    "REAL streaming app (streaming/pipelines.events_rollup_app — "
    "the hypertable continuous-aggregate shape): events replay in "
    "2 micro-batches, each writing its own (entity, hour) count + "
    "DECIMAL value-sum grid to an epoch-addressed store; the live "
    "rollup sums counts as integers and value sums as exact "
    "decimals (never rounded through a double at an epoch "
    "boundary), so the merged grid is BIT-IDENTICAL to the "
    "one-shot batch rollup and this query shares "
    "`events_gapfill_locf`'s oracle VERBATIM — a green row "
    "certifies that the downsampled serving layer can be "
    "maintained incrementally at ingest. 2 micro-batches "
    "(split-independent additive merge); the grid IS the state, "
    "entity x hour rows forever; same overwrite-own-epoch crash "
    "rule as the CMS app.",
    tags=("streaming", "replay", "events", "timeseries"),
)
def events_gapfill_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, "events")["events"]
    lines = spread(ev, "event_id").select("event_id", "ts", "event_type", "value")
    reg = replay_registry("gmall_roll_", ods_events=(lines, 2, ["ts", "event_id"]))
    roll = merged_events_rollup(spark, _run_store_app(spark, reg, events_rollup_app))
    return locf_output(dense_from_rollup(roll))


@register(
    "dim_enrichment_asof_stream",
    oracle=sql_dim_enrichment_asof(),
    doc="Point-in-time dim enrichment as a LIVE stream — the "
    "temporal-table join run as one keyed stateful operator "
    "(streaming/stateful.temporal_enrich) over a single replayed "
    "stream carrying BOTH sides: dim VERSION events (insert/update "
    "with the version's values + its valid_from) and CDC DELETE "
    "TOMBSTONES (all-NULL values) update each customer's carried "
    "version; order facts emit enriched with the version live at "
    "their event-time position. The tombstone is the streaming "
    "face of the batch plan's closed-interval NULL-ing: the "
    "positional (not ignore-null) carry REPLACES the version with "
    "NULLs, so post-delete facts read 'no live version' — and the "
    "query shares dim_enrichment_asof's oracle VERBATIM. State is "
    "ONE (ts, values) version per key forever; batch boundaries "
    "fall on event-TIME cuts so an equal-ts version/fact pair is "
    "never split (the asof_click_stream contract). version_live "
    "rides the carried version id: NULL id = tombstone or "
    "never-built.",
    tags=("state", "streaming", "cdc", "join", "asof", "dim"),
)
def dim_enrichment_asof_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer")
    cust = t["customer"]
    orders = t["orders"]
    t0 = F.lit(PIT_T0).cast("timestamp")
    t1 = F.lit(PIT_T1).cast("timestamp")
    nul_d = F.lit(None).cast("double")
    nul_t = F.lit(None).cast("timestamp")

    def build(pred, ts_col, bal_col, vfrom_col, ver: int):
        return cust.filter(pred).select(
            (-(F.col("c_custkey") * 2 + ver)).alias("o_orderkey"),
            ts_col.alias("ts"),
            F.col("c_custkey").alias("custkey"),
            F.lit("dimchange").alias("event_type"),
            bal_col.alias("acctbal_asof"),
            vfrom_col.alias("version_from"),
        )

    k = F.col("c_custkey") % 10
    builds = (
        build(F.lit(True), t0, F.col("c_acctbal"), t0, 0)
        .unionByName(build(k.isin(1, 2), t1, F.col("c_acctbal") * 2, t1, 1))
        .unionByName(build(k == 0, t1, nul_d, nul_t, 1))  # tombstones
    )
    probes = orders.select(
        "o_orderkey",
        F.col("o_orderdate").alias("ts"),
        F.col("o_custkey").alias("custkey"),
        F.lit("order").alias("event_type"),
        nul_d.alias("acctbal_asof"),
        nul_t.alias("version_from"),
    )
    ev = builds.unionByName(probes)
    # the dim-change instant PIT_T1 is a legal order date, so a
    # same-instant version/fact pair must stay co-batched (_time_halves)
    op = lambda s: stateful.temporal_enrich(
        s, key="custkey", ts="ts", id_col="o_orderkey",
        val_cols=("acctbal_asof", "version_from"),
    )
    out = replay_stateful(
        spark, ev, op, order_by=["ts", "o_orderkey"],
        cache_key=f"pit_tspan:{sf_dir}", file_of=_time_halves(ev), n_files=2,
    )
    return out.select(
        "o_orderkey",
        "custkey",
        F.col("probe_ts").alias("order_ts"),
        "acctbal_asof",
        "version_from",
        F.col("version_from").isNotNull().alias("version_live"),
    )


# One epoch-addressed histogram-grid store per corpus, built by the
# REAL streaming app and SHARED by quantile_sketch_stream and
# value_drift_chi2_stream (r10 VERDICT #6: replay wall is micro-batch
# commit cost — two consumers of one additive grid store should not
# each pay their own replay). Epoch assignment is EXPLICIT
# (event_id mod HIST_EPOCHS via write_replay's file_of), so an
# external oracle can reconstruct any epoch RANGE as a plain mod-class
# predicate; the quantile reader sums all epochs, for which any split
# gives the identical grid (additivity).
HIST_EPOCHS = 4
# drift samples: baseline = epochs [0, HIST_BASE_EPOCHS), live = rest
HIST_BASE_EPOCHS = 2


def _hist_epoch_store(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per corpus per process) and return the root of the
    histogram sketch store: ``<root>/store/hist_grid/epoch=<e>`` dirs
    written by ``streaming/pipelines.hist_sketch_app`` over a
    4-micro-batch replay of events, bounds provisioned up front from
    the corpus (memoized, the Bloom-width contract)."""
    ev = load_tables(spark, sf_dir, "events")["events"]

    def _bounds() -> list:
        # provisioning: one tiny agg collected to (#event types)
        # driver rows -- contract-bounded (4 types), the same class
        # as the centroid tables and the memoized bloom width
        return [
            (r["event_type"], float(r["vmin"]), float(r["vmax"]))
            for r in ev.groupBy("event_type")
            .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
            .collect()
        ]

    def _build() -> tuple:
        bounds_rows = _bounds()
        lines = spread(ev, "event_id").select(
            "event_id", "ts", "event_type", "value"
        )
        reg = replay_registry(
            "gmall_hist_",
            ods_events=(
                lines, HIST_EPOCHS, ["event_id"], F.pmod(F.col("event_id"), F.lit(HIST_EPOCHS))
            ),
        )
        _run_store_app(spark, reg, hist_sketch_app, bounds_rows=bounds_rows)
        return reg.root, bounds_rows

    # ONE memo holds (root, bounds): they are a unit — the bounds the
    # store was provisioned with are the only bounds its readers may use
    return corpus_value(spark, "hist_epoch_store", sf_dir, _build)[0]


def _hist_bounds_rows(spark: SparkSession, sf_dir: str) -> list:
    def _never() -> tuple:
        raise AssertionError("store must be built before reading bounds")

    _hist_epoch_store(spark, sf_dir)  # ensures the memo exists
    return corpus_value(spark, "hist_epoch_store", sf_dir, _never)[1]


@register(
    "quantile_sketch_stream",
    oracle=sql_quantile_hist_audit(),
    doc="The histogram-quantile audit with the grid maintained by "
    "the REAL streaming app (streaming/pipelines.hist_sketch_app): "
    f"the events stream replays in {HIST_EPOCHS} micro-batches, "
    "each contributing its own per-type 256-bin count grid to an "
    "epoch-addressed store over a domain PROVISIONED up front "
    "(the Bloom-width contract -- fixed bounds are what keep "
    "per-epoch grids mergeable), and the live sketch is the "
    "per-(type, bin) SUM over epochs. Histogram merge is plain "
    "addition, so the streamed grid is BIT-IDENTICAL to the "
    "one-shot batch grid and this query shares "
    "quantile_histogram_audit's oracle verbatim -- a green row "
    "certifies mergeability itself (the CMS/Bloom pattern, third "
    "member); additivity is also what lets ONE store (built once "
    "per corpus, explicit event_id-mod epoch split) serve both "
    "this reader and value_drift_chi2_stream's epoch-range "
    "reader without either paying a second replay (r11). Crash "
    "rule = overwrite-own-epoch, pinned by the "
    "poison-epoch/restart test. Per-key state nowhere; the grid "
    "is the state, types*bins rows forever.",
    tags=("streaming", "sketch", "replay", "events", "stats"),
)
def quantile_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _hist_epoch_store(spark, sf_dir)
    bounds_rows = _hist_bounds_rows(spark, sf_dir)
    grid = merged_store(spark, os.path.join(root, "store"), "hist_grid")
    bounds = spark.createDataFrame(
        bounds_rows, "event_type string, vmin double, vmax double"
    )
    est = hist_quantiles(grid, bounds)
    return est.join(_exact_disc_long(spark), ["event_type", "q"]).select(
        "event_type",
        "q",
        "n",
        "hist_q",
        "exact_q",
        (F.col("hist_q") - F.col("exact_q")).alias("err"),
    )


@register(
    "value_drift_chi2_stream",
    # the stream's two samples are epoch RANGES of the store;
    # epoch = event_id mod HIST_EPOCHS by the replay's explicit
    # file_of split, so the range membership is a plain mod-class
    # predicate the shared oracle body takes as its h expression
    oracle=_sql_drift_chi2(
        h_expr=(
            f"CASE WHEN e.event_id % {HIST_EPOCHS} < {HIST_BASE_EPOCHS} "
            "THEN 0 ELSE 1 END"
        )
    ),
    doc="The distribution-drift audit run the way the production "
    "monitor runs it — over the LIVE epoch-addressed histogram "
    "store instead of two static snapshots: baseline sample = "
    f"epochs [0, {HIST_BASE_EPOCHS}) of the store this query "
    "SHARES with quantile_sketch_stream (one replay, one store — "
    "the grid is additive, so each reader sums its own epoch "
    "range), live sample = the rest; per (type, bin), c0/c1 are "
    "plain ct sums over each range and the chi-square tail is "
    "drift_chi2_from_grid, the identical expression tree as the "
    "batch query. Oracle = the same parameterized _sql_drift_chi2 "
    "body with the epoch ranges' mod-class membership as the h "
    "expression (epoch assignment is EXPLICIT in the replay "
    "split, so the oracle reconstructs it exactly). At 100 TB the "
    "monitor reads types*bins*epochs grid rows — corpus-size-"
    "free; no event rescan, no per-key state. Crash rule "
    "inherited from the store app (overwrite-own-epoch), pinned "
    "by the shared-store poison-epoch test.",
    tags=("streaming", "sketch", "replay", "events", "audit", "stats"),
)
def value_drift_chi2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _hist_epoch_store(spark, sf_dir)
    store = spark.read.parquet(os.path.join(root, "store", "hist_grid"))
    grid = (
        store.filter(F.col("b") >= 0)
        .groupBy("event_type", "b")
        .agg(
            F.sum(
                F.when(F.col("epoch") < HIST_BASE_EPOCHS, F.col("ct")).otherwise(0)
            ).alias("c0"),
            F.sum(
                F.when(F.col("epoch") >= HIST_BASE_EPOCHS, F.col("ct")).otherwise(0)
            ).alias("c1"),
        )
    )
    return drift_chi2_from_grid(grid)


# -- named corpus-scoped setups (bench ledger lines; see catalog.SETUPS)


@register_setup("hist_epoch_store")
def _setup_hist_epoch_store(spark: SparkSession, sf_dir: str) -> None:
    """Build the shared 4-epoch histogram-grid store (replay + real
    streaming app) that quantile_sketch_stream and
    value_drift_chi2_stream both read."""
    _hist_epoch_store(spark, sf_dir)


# ----------------------------------------------------------------------
# K4 extend — CDC schema evolution under a mid-stream config change
# (r13 VERDICT #5).
# ----------------------------------------------------------------------


@register(
    "dim_schema_evolution",
    oracle="""
    SELECT o_orderkey,
           o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
    FROM orders WHERE o_orderkey % 10 IN (1, 2)
    """,
    doc="K4's extend semantics end to end (reference: a table_process "
    "row update flows through FlinkCDC broadcast state, "
    "RT/app/func/TableProcessFunction.java:71-131): the REAL "
    "base_db_app runs over a 2-epoch CDC replay (o_orderkey % 2 "
    "splits the envelopes) with a FILE-BACKED config PROVIDER "
    "re-read each micro-batch; between the epochs the config's "
    "sinkColumns gains o_orderstatus. Epoch-0 dim rows merge under "
    "the 2-column schema, epoch-1 rows under the 3-column schema, and "
    "the store's unionByName(allowMissingColumns) MERGE widens the "
    "table in place — epoch-0 rows read NULL in the added column, the "
    "ALTER TABLE ADD COLUMN contract. The oracle states the final "
    "store exactly: every update-key order, status only where the "
    "second config generation wrote the row. Scale: the config is "
    "config-sized and broadcast per batch; evolution adds no pass — "
    "the widened column rides the same per-batch MERGE.",
    tags=("cdc", "routing", "config", "streaming", "merge"),
)
def dim_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    env = envelope_from_table(orders, "o_orderkey", "gmall", "order_info").withColumn(
        "k",
        F.coalesce(
            F.element_at("after", "o_orderkey"), F.element_at("before", "o_orderkey")
        ).cast("long"),
    )
    reg = replay_registry("gmall_dimevolve_", ods_base_db=(env, 2, ["type", "k"], F.col("k") % 2))
    root, src_path = reg.root, reg.channels["ods_base_db"].path

    cfg_schema = (
        "sourceTable string, operateType string, sinkType string, sinkTable string, "
        "sinkColumns string, sinkPk string, sinkExtend string"
    )
    cfg_dir = os.path.join(root, "config")

    def set_config(sink_columns: str) -> None:
        spark.createDataFrame(
            [("order_info", "update", "hbase", "dim_order_info",
              sink_columns, "o_orderkey", None)],
            schema=cfg_schema,
        ).coalesce(1).write.mode("overwrite").parquet(cfg_dir)

    # hide epoch 1's file (newest mtime) so the first run stops after
    # epoch 0 — the poison-test hide/reveal recipe
    files = sorted(
        (f for f in os.listdir(src_path)
         if f.endswith(".parquet") and not f.startswith((".", "_"))),
        key=lambda f: os.path.getmtime(os.path.join(src_path, f)),
    )
    hidden = files[-1]
    shutil.move(os.path.join(src_path, hidden), os.path.join(root, "hidden.parquet"))

    store = DimStore(os.path.join(root, "dims"))
    provider = lambda: spark.read.parquet(cfg_dir)  # noqa: E731
    ckpt = os.path.join(root, "ckpt")
    # the session's fan-out, not JVM_PARTITIONS: at 8 this replay
    # measured slower (tools/profile_query.py, sf0.1, 4 cores)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    set_config("o_orderkey,o_totalprice")
    run_to_end(spark, reg, lambda: base_db_app(spark, reg, store, provider, ckpt), partitions=parts)

    # the table_process update lands; epoch 1 arrives after it
    set_config("o_orderkey,o_totalprice,o_orderstatus")
    shutil.move(os.path.join(root, "hidden.parquet"), os.path.join(src_path, hidden))
    run_to_end(spark, reg, lambda: base_db_app(spark, reg, store, provider, ckpt), partitions=parts)

    return store.read(spark, "dim_order_info").select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        F.col("o_orderstatus"),
    )


@register(
    "dsir_gate_stream",
    oracle=SQL_DSIR_SELECT_AUDIT,
    doc="DSIR maintained INCREMENTALLY: the raw-corpus and the "
    "target-domain bigram models are both kept live by the real "
    "epoch-store count app (streaming/pipelines.lm_counts_app) — "
    "two instances of the same app one admission predicate apart "
    f"(the target admits lang = '{DSIR_TARGET_LANG}'), exactly how "
    "a deployment maintains its selection models from one "
    "document stream. The count merges are additive-exact and the "
    "target-side ingredient frames (seen-bigram counts, prefix "
    "counts, vocabulary) derive from the MERGED model, so the "
    "streamed weights — and the per-language gate decision — are "
    "bit-identical to the batch fit: the twin shares "
    "dsir_select_audit's oracle VERBATIM. The scoring tail is ONE "
    "shared definition with the batch query (dsir_scores_from), "
    "so the formula cannot drift between build paths.",
    tags=("llm-prep", "quality", "lm", "sampling", "streaming", "incremental"),
)
def dsir_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    lines = _doc_lines(docs)
    reg = replay_registry(
        "gmall_dsir_",
        ods_documents=(lines.select("doc_id", "text", "lang", "ts"), 2, ["ts", "doc_id"]),
    )
    raw = _run_store_app(spark, reg, lm_counts_app, ckpt="ckpt_raw", store="raw")
    tgt = _run_store_app(
        spark, reg, lm_counts_app, ckpt="ckpt_tgt", store="tgt",
        doc_filter=F.col("lang") == DSIR_TARGET_LANG,
    )
    raw_model, tgt_model = merged_lm_model(spark, raw), merged_lm_model(spark, tgt)
    # target ingredient frames from the merged model: seen-bigram
    # counts, distinct prefix counts, and the vocabulary scalar
    tc2 = tgt_model.select("g", F.col("c2").alias("tc2"))
    tc1 = tgt_model.select("w1", "c1").distinct().select(
        "w1", F.col("c1").alias("tc1")
    )
    # coalesce the scalar: an empty target slice leaves the merged
    # model rowless, where max(v) is NULL and every score would go
    # silently NULL — the batch path's count_distinct yields 0
    # there, so match it
    tv = tgt_model.agg(F.coalesce(F.max("v"), F.lit(0)).alias("v"))
    t, _staged, grams = _staged_grams(spark, sf_dir)
    scores = dsir_scores_from(grams, raw_model, tc2, tc1, tv)
    return dsir_audit_output(t["documents"], scores)


@register(
    "dsir_hashed_stream",
    oracle=SQL_DSIR_HASHED_Q,
    doc="The HASHED (corpus-size-free) DSIR estimator maintained "
    "INCREMENTALLY: both fixed-width bucket grids are kept live by "
    "the real epoch-store grid app (streaming/pipelines."
    "dsir_grid_app) — two instances one admission predicate apart "
    f"(the target admits lang = '{DSIR_TARGET_LANG}'), the "
    "dsir_gate_stream deployment shape, but with EVERY per-epoch "
    "store write bounded at DSIR_HASH_B rows regardless of corpus "
    "size (lm_counts_app's grids are batch-distinct-bigram-sized) "
    "— this is the selection model you can actually run "
    "continuously at 100 TB with open vocabulary. The grid merges "
    "are additive-exact integers, so the merged grids equal the "
    "batch fit's bit-for-bit and the twin shares dsir_hashed's "
    "oracle VERBATIM; the scoring tail is ONE shared definition "
    "with the batch query (dsir_hashed_scores_from_grid), so the "
    "formula cannot drift between build paths.",
    tags=(
        "llm-prep",
        "quality",
        "lm",
        "sampling",
        "sketch",
        "streaming",
        "incremental",
    ),
)
def dsir_hashed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    lines = _doc_lines(docs)
    reg = replay_registry(
        "gmall_dsirh_",
        ods_documents=(lines.select("doc_id", "text", "lang", "ts"), 2, ["ts", "doc_id"]),
    )
    raw = _run_store_app(spark, reg, dsir_grid_app, ckpt="ckpt_raw", store="raw")
    tgt = _run_store_app(
        spark, reg, dsir_grid_app, ckpt="ckpt_tgt", store="tgt",
        doc_filter=F.col("lang") == DSIR_TARGET_LANG,
    )
    raw = merged_store(spark, raw, "dsir_grid")
    tgt = merged_store(spark, tgt, "dsir_grid").select("b", F.col("ct").alias("tct"))
    grid = raw.join(tgt, "b", "left").withColumn(
        "tct", F.coalesce(F.col("tct"), F.lit(0))
    )
    t, _staged, grams = _staged_grams(spark, sf_dir)
    hg = grams.select("doc_id", _dsir_hash_bucket(F.col("g")).alias("b"))
    return dsir_hashed_scores_from_grid(spark, hg, grid)


