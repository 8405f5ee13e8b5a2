"""Custom stateful streaming operators via ``applyInPandasWithState``.

These are the operators whose semantics Spark's built-ins cannot
express exactly (SURVEY §2.4/§2.9): keyed ValueState with TTL and
CEP-style timeout emission. Each mirrors a reference operator:

- :func:`daily_dedup`      — F2, UniqueVisitApp's ValueState<lastVisitDate>
                             with 1-day TTL (RT/app/dwm/UniqueVisitApp.java:41-84)
- :func:`fix_is_new`       — F3, BaseLogApp's first-seen correction
                             (RT/app/dwd/BaseLogApp.java:58-95)
- :func:`sessionize_bounce`— U2, the planned CEP user-jump job
                             (stub RT/app/dwm/UserJumpDetailApp.java; dep
                             gmall-realtime/pom.xml:52-56): close a session
                             when the gap exceeds the threshold OR state
                             times out; a 1-event session is a bounce.
- :func:`temporal_join` / :func:`temporal_enrich` — the Flink
                             temporal-table (as-of) join as keyed state.
- :func:`transition_pairs` — consecutive-event pairs per key.
- :func:`funnel_chain`     — multi-step CEP pattern state (the
                             flink-cep chain beyond the bounce job):
                             view->click->purchase last-touch links.

Semantics note: like the reference's ProcessFunctions, these process
records in *arrival order* (within a micro-batch we sort by (key, ts,
id)). Replayed in timestamp order they converge exactly to the batch
twins in ``operators/filters.py`` / ``plans/logs.py`` —
tests/test_streaming.py asserts that.

State layout: every operator runs through :func:`_keyed_state`. The
state-store key is not the operator key but its bucket,
``pmod(xxhash64(key), STATE_BUCKETS)``, so a micro-batch pays at most
``STATE_BUCKETS`` Python group calls however many keys it touches (the
applyInPandasWithState wall is the per-group call: state fetch, Arrow
round trip, pandas fixed cost). A bucket's state row holds its keys'
per-key state as parallel arrays — ``ks`` (the keys), one array per
declared state field, and for TTL operators ``um`` (each key's
last-update processing time). Each operator is only a vectorized step
over one bucket's batch rows plus the stored entries of the keys that
batch touches; TTL eviction, timeout emission and type coercion are
the helper's. TTLs still bound state to ~#active keys, per key.

``STATE_BUCKETS`` is part of the checkpointed layout: a key's state is
found by its bucket, so a query restarted under another bucket count
would look in buckets that do not hold its keys and silently lose
state. It is therefore one module constant, never derived from the
session (parallelism, shuffle partitions). Changing it, or anything in
the layout above, invalidates existing checkpoints.

The state *partition* count is a separate, session-derived number:
how many state tasks spread the buckets. Start keyed-state queries
under :func:`state_fanout`, which sizes it to one wave of the worker
pool. Spark fixes it in the query's checkpoint at first start, so a
restart keeps its own count whatever the session says then, and
buckets map onto partitions by Spark's own hash either way.
"""

from __future__ import annotations

from collections.abc import Iterable
from contextlib import contextmanager

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import shuffle_partitions

DAY_MS = 24 * 3600 * 1000

#: Hash buckets of every keyed-state operator — part of the
#: checkpointed state layout (see the module docstring), so a module
#: constant: no session setting may change it. It also caps the state
#: partitions of :func:`state_fanout` (more would hold no bucket).
STATE_BUCKETS = 32


@contextmanager
def state_fanout(spark: SparkSession):
    """Start keyed-state queries inside this block: it sets
    ``spark.sql.shuffle.partitions`` to one wave of state tasks,
    ``min(STATE_BUCKETS, defaultParallelism)``, and restores the
    caller's value on exit, also when the block raises.

    Every state partition is a Python task, and each pays a fixed
    set-up before its first row, while an epoch makes at most
    ``STATE_BUCKETS`` group calls in all. On a worker that has
    imported the package the set-up is ~20 ms (its zipimport cache
    spares the task PySpark's re-read of every zip archive on the
    worker path, 0.3-0.5 s without it); a fresh worker pays the
    re-reads once. Partitions beyond the worker slots still add a
    wave: on a 4-core host ``is_new_fix_stream`` (sf0.1, median of 5
    reps, two runs) took 2.48/2.21 s at 4 state partitions and
    2.66/3.22 s at 8. A query reads the count when it starts and keeps
    it in its checkpoint, so restoring the session value does not
    touch a running query."""
    with shuffle_partitions(spark, state_partitions(spark)):
        yield


def state_partitions(spark: SparkSession) -> int:
    """The shuffle partitions of one wave of state tasks, the count
    :func:`state_fanout` starts keyed-state queries with."""
    return min(STATE_BUCKETS, spark.sparkContext.defaultParallelism)


_INTEGRAL_T = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _seed_safe_ids(pdf: pd.DataFrame, id_col: str) -> pd.DataFrame:
    """Prepare a batch frame for concat with state-seed rows: the seed
    frame has no id column, and plain ``pd.concat`` NaN-pads it —
    silently widening an int64 id to float64, so an id >= 2^53 would
    round through the float trip and be emitted corrupted. Cast the id
    to pandas *nullable* Int64 first: the padding becomes NA and every
    real batch row keeps its exact integer. Read back with
    :func:`_exact_ids` at the output site."""
    if pd.api.types.is_integer_dtype(pdf[id_col].dtype):
        return pdf.assign(**{id_col: pdf[id_col].astype("Int64")})
    return pdf


def _exact_ids(ids: pd.Series):
    """Output-side twin of :func:`_seed_safe_ids`: probe/output rows
    are always real batch rows (seeds carry build/stage types only),
    so the nullable Int64 column never holds NA where it is read —
    cast back to exact int64 for Arrow serialization."""
    if pd.api.types.is_extension_array_dtype(ids.dtype):
        return ids.astype("int64").to_numpy()
    return ids.to_numpy()


def _seed_cast(seed: pd.DataFrame, pdf: pd.DataFrame, cols) -> pd.DataFrame:
    """Cast seed columns to the batch dtypes where they fit. A None
    read back from state (a tombstone, a NULL carry) cannot cast into
    a non-nullable numpy dtype (int64/bool): leave that column and let
    concat upcast it — the carries are positional, so the dtype only
    matters for output serialization, which ``.where()`` handles."""
    for c in cols:
        try:
            seed[c] = seed[c].astype(pdf[c].dtype)
        except (TypeError, ValueError):
            pass
    return seed


def _py(v):
    """numpy scalar -> Python scalar (state keys must be plain)."""
    return v.item() if hasattr(v, "item") else v


def _coerce(t: T.DataType, v):
    """Coerce a pandas value to the DECLARED state type: a nullable
    batch column arrives float64-upcast, and a float written into a
    long state slot is silently dropped by the state serializer."""
    if isinstance(t, T.ArrayType):
        return [_coerce(t.elementType, x) for x in v]
    if v is None or pd.isna(v):
        return None
    if isinstance(t, _INTEGRAL_T):
        return int(v)
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return float(v)
    return _py(v)


def _entries(key: str, names: list, ks: list, rows: list) -> pd.DataFrame:
    """Stored entries as a frame: one row per key, one column per
    state field. A column holding a None stays object dtype so an
    integral value is never float-upcast here."""
    cols = {key: pd.Series(ks, dtype=object if not ks else None)}
    for i, name in enumerate(names):
        vals = [r[i] for r in rows]
        cols[name] = pd.Series(vals, dtype=object if None in vals else None)
    return pd.DataFrame(cols)


def _bucket_fn(key: str, fields: T.StructType, step, ttl_ms=None, expire=None):
    """The per-group function of :func:`_keyed_state`, for one bucket.

    ``step(pdf, seen) -> (out, upd)`` gets the bucket's batch rows and
    ``seen``, the stored entries (columns ``key`` + ``fields``) of
    only the keys present in the batch; it returns its output frame
    and ``upd``, the same columns for each key whose state it sets
    (``None`` for either when there is nothing). Stored keys the batch
    does not touch are neither handed to the step nor rewritten.

    With ``ttl_ms`` the TTL is per KEY, checked on every call of the
    bucket: a stored key absent from the batch and idle (no update)
    for >= ``ttl_ms`` of processing time is evicted, and ``expire``
    (if given) turns the evicted entries into output rows. The bucket's
    timeout is re-armed at its earliest remaining expiry, so a cold key
    leaves on time even when a hot key keeps the bucket busy. A key in
    the batch is handed to the step with its state, like Spark's
    per-key timeout, which never fires for a group that has data."""
    names = fields.names
    types = [f.dataType for f in fields]

    def fn(_bucket, pdfs: Iterable[pd.DataFrame], state: GroupState):
        stored, stamp = {}, {}
        if state.exists:
            st = state.get
            stored = dict(zip(st[0], zip(*st[1 : 1 + len(names)])))
            if ttl_ms:
                stamp = dict(zip(st[0], st[-1]))
        frames = [p for p in pdfs if len(p)]
        pdf = pd.concat(frames, ignore_index=True) if frames else None
        batch_keys = pdf[key].unique() if pdf is not None else ()
        outs, changed = [], False
        if ttl_ms:
            now = state.getCurrentProcessingTimeMs()
            live = set(batch_keys)
            gone = [k for k, u in stamp.items() if now - u >= ttl_ms and k not in live]
            if gone:
                rows = [stored.pop(k) for k in gone]
                for k in gone:
                    del stamp[k]
                changed = True
                if expire is not None:
                    outs.append(expire(_entries(key, names, gone, rows)))
        if pdf is not None:
            ks = [k for k in batch_keys if k in stored]
            out, upd = step(pdf, _entries(key, names, ks, [stored[k] for k in ks]))
            outs.append(out)
            if upd is not None and len(upd):
                changed = True
                for row in upd.itertuples(index=False, name=None):
                    k = _py(row[0])
                    stored[k] = tuple(_coerce(t, v) for t, v in zip(types, row[1:]))
                    if ttl_ms:
                        stamp[k] = now
        if not stored:
            if state.exists:
                state.remove()
        else:
            if changed:
                packed = [list(stored), *(list(c) for c in zip(*stored.values()))]
                if ttl_ms:
                    packed.append([stamp[k] for k in stored])
                state.update(tuple(packed))
            if ttl_ms:
                state.setTimeoutDuration(max(1, min(stamp.values()) + ttl_ms - now))
        for o in outs:
            if o is not None and len(o):
                yield o

    return fn


def _keyed_state(
    events: DataFrame,
    out_t,
    key: str,
    fields: T.StructType,
    step,
    ttl_ms: int | None = None,
    expire=None,
) -> DataFrame:
    """Run ``step`` as keyed state over ``STATE_BUCKETS`` hash buckets
    of ``key`` — the one ``applyInPandasWithState`` call site. The
    state row of a bucket is the parallel-array layout of the module
    docstring; ``fields`` declares the per-key state (names and
    types), ``out_t`` the output schema. ``ttl_ms`` turns on per-key
    processing-time TTL; see :func:`_bucket_fn` for the step contract.
    Keys cannot straddle buckets (the bucket is a pure function of the
    key), so per-key ordering and carries are unaffected."""
    key_t = events.schema[key].dataType
    state_t = T.StructType(
        [T.StructField("ks", T.ArrayType(key_t, False))]
        + [T.StructField(f"s{i}", T.ArrayType(f.dataType, True)) for i, f in enumerate(fields)]
        + ([T.StructField("um", T.ArrayType(T.LongType(), False))] if ttl_ms else [])
    )
    return (
        events.withColumn("_bkt", F.pmod(F.xxhash64(F.col(key)), F.lit(STATE_BUCKETS)))
        .groupBy("_bkt")
        .applyInPandasWithState(
            _bucket_fn(key, fields, step, ttl_ms, expire),
            outputStructType=out_t,
            stateStructType=state_t,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def daily_dedup(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First visit per key per calendar day (UV dedup), exact keyed-state
    form. State per key: the last visit day, with the reference's 1-day
    TTL (StateTtlConfig) per key. Output: (user_id, dt, first_event_id,
    ts)."""

    def step(pdf, seen):
        pdf = pdf.sort_values([key, ts, id_col])
        d = pdf[ts].dt.strftime("%Y-%m-%d")
        karr = pdf[key]
        # first row of each (key, day) pair, minus the key's stored day
        keep = ~pd.DataFrame({"k": karr, "d": d}).duplicated().to_numpy()
        keep &= (d != karr.map(seen.set_index(key)["last_date"])).to_numpy()
        # the key's last (max) batch day replaces its stored day
        last = ~karr.duplicated(keep="last")
        out = pdf.loc[keep]
        return (
            pd.DataFrame(
                {
                    key: out[key].to_numpy(),
                    "dt": d.loc[keep].to_numpy(),
                    "first_event_id": out[id_col].to_numpy(),
                    "ts": out[ts].to_numpy(),
                }
            ),
            pd.DataFrame({key: karr[last], "last_date": d[last]}),
        )

    return _keyed_state(
        events,
        f"{key} long, dt string, first_event_id long, ts timestamp",
        key,
        T.StructType([T.StructField("last_date", T.StringType())]),
        step,
        ttl_ms=DAY_MS,
    )


def fix_is_new(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """is_new flag correction: '1' only on the key's first-seen day.
    State per key: the first-seen day, kept forever (the reference's
    BaseLogApp declares no TTL, unlike UniqueVisitApp). Per key the
    first-seen day is the stored day if present, else the key's first
    batch day. Output: (event_id, user_id, is_new)."""

    def step(pdf, seen):
        pdf = pdf.sort_values([key, ts, id_col])
        d = pdf[ts].dt.strftime("%Y-%m-%d")
        karr = pdf[key]
        # the key's first batch day = d at each key segment's head,
        # broadcast down the segment; the stored first-seen wins
        batch_first = d.groupby(karr.to_numpy()).transform("first")
        first = karr.map(seen.set_index(key)["first_date"]).fillna(batch_first)
        new = ~karr.duplicated() & ~karr.isin(seen[key])
        return (
            pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    key: karr.to_numpy(),
                    "is_new": (d == first).map({True: "1", False: "0"}).to_numpy(),
                }
            ),
            pd.DataFrame({key: karr[new], "first_date": first[new]}),
        )

    return _keyed_state(
        events,
        f"{id_col} long, {key} long, is_new string",
        key,
        T.StructType([T.StructField("first_date", T.StringType())]),
        step,
    )


def sessionize_bounce(
    events: DataFrame,
    gap_minutes: int = 10,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """CEP bounce detection: a session closes when the next event
    arrives after the gap, or when the key's state times out (the CEP
    ``within`` timeout branch: no event for ``gap_minutes`` of
    processing time). Emits one row per *closed* session:
    (user_id, n_events, is_bounce, end_ts = last event of the session).
    Open sessions stay in state as (last event us, event count) per key.

    Sessionization is vectorized over the bucket: a per-key shift for
    the gap test, session ids from a global entry-cumsum made key-local
    by pairing with the key; a carried open session continues into its
    key's first batch session or closes at its own end.
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def closed(f):
        # (key, last_us, n) entries -> output rows
        return pd.DataFrame(
            {
                key: f[key].to_numpy(),
                "n_events": f["n"].to_numpy(),
                "is_bounce": (f["n"] == 1).to_numpy(),
                "end_ts": pd.to_datetime(f["last_us"].astype("int64"), unit="us").to_numpy(),
            }
        )

    def step(pdf, seen):
        pdf = pdf.sort_values([key, ts, id_col])
        karr = pdf[key]
        carried = seen.set_index(key)
        t_us = pdf[ts].astype("int64") // 1000
        head = ~karr.duplicated()
        prev = t_us.groupby(karr.to_numpy()).shift(1).where(~head, karr.map(carried["last_us"]))
        entry = prev.isna() | ((t_us - prev) > gap_us)
        # (key, global entry-cumsum) is unique per session AND ordered;
        # a key-head continuation row reuses the previous key's final
        # sid, which the key pairing keeps distinct
        sess = (
            pd.DataFrame({key: karr.to_numpy(), "s": entry.cumsum().to_numpy(), "t": t_us.to_numpy()})
            .groupby([key, "s"], sort=False)
            .agg(n=("t", "size"), last_us=("t", "max"))
            .reset_index()
        )
        # a carried open session continues into the key's first batch
        # session, or closes at its own end when that row opens anew
        in_state = karr.isin(carried.index)
        cont = karr[head & ~entry & in_state]
        first_of_key = ~sess[key].duplicated()
        add = sess[key].map(carried["n"]).where(first_of_key & sess[key].isin(cont), 0)
        sess["n"] = (sess["n"] + add).astype("int64")
        # every batch session but each key's last is closed
        last_of_key = ~sess[key].duplicated(keep="last")
        ends = sess.loc[~last_of_key, [key, "last_us", "n"]]
        closing = karr[head & entry & in_state]
        if len(closing):
            ends = pd.concat([carried.loc[closing].reset_index(), ends], ignore_index=True)
        return closed(ends), sess.loc[last_of_key, [key, "last_us", "n"]]

    return _keyed_state(
        events,
        f"{key} long, n_events long, is_bounce boolean, end_ts timestamp",
        key,
        T.StructType(
            [T.StructField("last_us", T.LongType()), T.StructField("n", T.LongType())]
        ),
        step,
        ttl_ms=gap_minutes * 60 * 1000,
        expire=closed,
    )


def temporal_enrich(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    build_type: str = "dimchange",
    probe_type: str = "order",
    val_cols: tuple = ("value",),
) -> DataFrame:
    """Multi-value stream-stream backward as-of enrichment — the
    streaming face of point-in-time dimension lookup (the Flink
    temporal-TABLE join), generalizing :func:`temporal_join` two ways
    a CDC dim stream needs:

    - N value columns carried together as ONE version (a dim version
      is a row, not a scalar);
    - NULL-SAFE carry: the carried version is addressed by build-row
      POSITION (the asof_join struct-marker precedent), not by
      per-column ignore-null fill — so a CDC DELETE tombstone (a
      build row whose value columns are all NULL) REPLACES the carried
      version with NULLs instead of being skipped, and probes after a
      delete correctly read "no live version".

    Same mechanics as temporal_join otherwise: one keyed stateful
    operator over a single stream carrying both sides; within a batch
    rows sort by (key, ts, build-before-probe) so a same-ts build is
    visible to its probe, and each touched key's carried version
    re-enters the batch's sort as a synthetic build row; the carry is
    a positional ffill segmented per key. Equal-(key, ts) builds are
    OUT OF CONTRACT (pre-aggregate upstream, as in asof_join) — value
    columns deliberately do not tie-break the sort, since a
    tombstone's NULL has no order against a typed value. State per
    key is ONE (ts, *values) version forever. Output: (id, key,
    probe_ts, build_ts, *val_cols) with LEFT semantics; ``val_cols``
    names must not collide with those four. Types derive from
    ``events.schema``, tombstone-safe for every type (an int value
    column survives a NULL carry via float upcast at the Arrow
    boundary). Known bound: that float64 upcast means integral value
    columns with magnitude > 2^53 lose precision when carried PAST a
    tombstone in the same batch — surrogate keys and counters are fine;
    carry 64-bit hashes as strings or split words if exactness matters.
    """
    val_cols = list(val_cols)
    clash = set(val_cols) & {id_col, key, "probe_ts", "build_ts"}
    if clash:
        raise ValueError(f"temporal_enrich: value columns collide: {sorted(clash)}")
    field = {c: events.schema[c].dataType for c in (key, ts, id_col, *val_cols)}

    def step(pdf, seen):
        pdf = pdf[pdf[type_col].isin([build_type, probe_type])]
        if not len(pdf):
            return None, None
        if len(seen):
            # the touched keys' carried versions re-enter the sort as
            # synthetic build rows
            seed = seen.assign(
                **{ts: pd.to_datetime(seen["build_ts"].astype("int64"), unit="us"), type_col: build_type}
            ).drop(columns="build_ts")
            seed = _seed_cast(seed, pdf, (key, ts, *val_cols))
            pdf = pd.concat([seed, _seed_safe_ids(pdf, id_col)], ignore_index=True)
        is_b = pdf[type_col] == build_type
        # (key, ts, build-before-probe) ONLY; mergesort keeps the
        # seed-first tie order
        pdf = (
            pdf.assign(_side=(~is_b).astype(int))
            .sort_values([key, ts, "_side"], kind="mergesort")
            .reset_index(drop=True)
        )
        is_b = (pdf[type_col] == build_type).to_numpy()
        # positional carry SEGMENTED by key: each row sees the index of
        # the latest build at or before it within its own key — NULL
        # build values ride along faithfully
        bpos = (
            pd.Series(np.where(is_b, np.arange(len(pdf)), np.nan))
            .groupby(pdf[key].to_numpy())
            .ffill()
        )
        # last build per key (max ts — rows are key/ts sorted); every
        # touched stored key seeded a build row, so none is dropped
        lastb = pdf.loc[is_b].groupby(key, sort=True).tail(1)
        upd = lastb[[key]].assign(
            build_ts=lastb[ts].astype("int64") // 1000, **{c: lastb[c] for c in val_cols}
        )
        probes = ~is_b
        if not probes.any():
            return None, upd
        pp = bpos[probes]
        m = pd.Series(pp.notna().to_numpy())
        idx = pp.fillna(0).astype(int).to_numpy()
        out = {
            id_col: _exact_ids(pdf.loc[probes, id_col]),
            key: pdf.loc[probes, key].to_numpy(),
            "probe_ts": pdf.loc[probes, ts].to_numpy(),
        }
        # .where (not masked assignment): upcasts an int64 carry to
        # float64-with-NaN instead of raising on None — Arrow maps the
        # integral floats back to the declared long output type
        out["build_ts"] = pdf[ts].iloc[idx].reset_index(drop=True).where(m).to_numpy()
        for c in val_cols:
            out[c] = pdf[c].iloc[idx].reset_index(drop=True).where(m).to_numpy()
        return pd.DataFrame(out), upd

    out_t = T.StructType(
        [
            T.StructField(id_col, field[id_col]),
            T.StructField(key, field[key]),
            T.StructField("probe_ts", field[ts]),
            T.StructField("build_ts", field[ts]),
            *[T.StructField(c, field[c]) for c in val_cols],
        ]
    )
    # no TTL: the latest dim version persists for the stream's lifetime
    # (fix_is_new's unbounded ValueState class)
    fields = T.StructType(
        [T.StructField("build_ts", T.LongType())]
        + [T.StructField(c, field[c]) for c in val_cols]
    )
    return _keyed_state(events, out_t, key, fields, step)


def temporal_join(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    build_type: str = "click",
    probe_type: str = "purchase",
    value_col: str = "value",
) -> DataFrame:
    """Stream-stream backward as-of (temporal) join as ONE keyed
    stateful operator — Flink's temporal/as-of join shape, the
    streaming twin of :func:`~..operators.joins.asof_join`.

    The input is a single stream carrying BOTH sides (the reference's
    union-then-keyBy idiom): ``build_type`` rows update the per-key
    state (the latest build row at or before any probe); ``probe_type``
    rows emit enriched with that state at their event-time position.
    Within a micro-batch rows sort by (key, ts, build-before-probe,
    value), so a same-timestamp build is visible to its probe
    (inclusive backward) and simultaneous builds resolve to the max
    value — the exact tie rule the batch twin's (key, ts)+MAX
    pre-aggregation defines. The tie rule holds ACROSS micro-batches
    too: the carried state re-enters every batch that touches its key
    as a synthetic build row and competes in the same sort, so an
    equal-ts build pair split over two batches resolves to the max
    value — in the carry the probes see AND in the state update, which
    is thereby a max-merge rather than last-batch-wins. The carry is a
    vectorized per-key ffill of the value (``where(is_b).ffill()``,
    which deliberately lets a NULL-valued carried build's value fall
    through to the previous non-NULL build — part of the operator's
    contract); no per-row Python. State per key is ONE (ts, value)
    pair forever (the reference's unbounded ValueState class, like
    fix_is_new).

    Output: (id, key, probe_ts, probe_value, build_ts, build_value) —
    LEFT semantics: probes before any build emit NULL build columns.
    Equal-(key, ts) builds where one value is NULL are OUT of the tie
    contract (pandas sorts NaN last, so the NULL would win the carry
    while a batch MAX skips it) — pre-aggregate such ties upstream,
    exactly as the batch twin's (key, ts)+MAX pre-aggregation does.
    Output and state field TYPES are derived from ``events.schema``
    (the asof_join precedent), so a string key or an integer value
    column round-trips instead of silently miscasting; only the state
    ``build_ts`` is pinned long (epoch micros).
    """
    field = {c: events.schema[c].dataType for c in (key, ts, id_col, value_col)}

    def step(pdf, seen):
        pdf = pdf[pdf[type_col].isin([build_type, probe_type])]
        if not len(pdf):
            return None, None
        if len(seen):
            seed = pd.DataFrame(
                {
                    key: seen[key],
                    ts: pd.to_datetime(seen["build_ts"].astype("int64"), unit="us"),
                    type_col: build_type,
                    value_col: seen["build_value"],
                }
            )
            seed = _seed_cast(seed, pdf, (key, ts, value_col))
            pdf = pd.concat([seed, _seed_safe_ids(pdf, id_col)], ignore_index=True)
        is_b = pdf[type_col] == build_type
        pdf = (
            pdf.assign(_side=(~is_b).astype(int))
            .sort_values([key, ts, "_side", value_col], kind="mergesort")
            .reset_index(drop=True)
        )
        is_b = pdf[type_col] == build_type
        karr = pdf[key].to_numpy()
        carry_ts = pdf[ts].where(is_b).groupby(karr).ffill()
        carry_val = pdf[value_col].where(is_b).groupby(karr).ffill()
        lastb = pdf.loc[is_b].groupby(key, sort=True).tail(1)
        upd = pd.DataFrame(
            {
                key: lastb[key],
                "build_ts": lastb[ts].astype("int64") // 1000,
                "build_value": lastb[value_col],
            }
        )
        pr = (~is_b).to_numpy()
        if not pr.any():
            return None, upd
        return (
            pd.DataFrame(
                {
                    id_col: _exact_ids(pdf.loc[pr, id_col]),
                    key: pdf.loc[pr, key].to_numpy(),
                    "probe_ts": pdf.loc[pr, ts].to_numpy(),
                    "probe_value": pdf.loc[pr, value_col].to_numpy(),
                    "build_ts": carry_ts.loc[pr].to_numpy(),
                    "build_value": carry_val.loc[pr].to_numpy(),
                }
            ),
            upd,
        )

    out_t = T.StructType(
        [
            T.StructField(id_col, field[id_col]),
            T.StructField(key, field[key]),
            T.StructField("probe_ts", field[ts]),
            T.StructField("probe_value", field[value_col]),
            T.StructField("build_ts", field[ts]),
            T.StructField("build_value", field[value_col]),
        ]
    )
    # no TTL: the latest dimension/build version must persist for the
    # stream's lifetime, exactly like fix_is_new's first-seen state
    fields = T.StructType(
        [
            T.StructField("build_ts", T.LongType()),
            T.StructField("build_value", field[value_col]),
        ]
    )
    return _keyed_state(events, out_t, key, fields, step)


def transition_pairs(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-key consecutive-event transition extraction, exact
    keyed-state form — the streaming twin of the batch LAG window
    behind ``behavior_pagerank``'s edge aggregation. State = the key's
    LAST event type, O(1) per key forever; membership in the stored
    keys IS the had-any-event flag, so a stored NULL type stays
    distinct from no-state. Each micro-batch sorts its rows by (key,
    ts, id), shifts the type column down one per key (vectorized), and
    fills each key's first row's predecessor from the carry — so a
    transition whose two events STRADDLE a micro-batch boundary is
    emitted exactly once, by the batch that sees the second event. A
    batch-local lead()/lag() would silently drop exactly those pairs:
    the cross-batch hazard that makes this an operator, not a window.

    NULL rule mirrors the batch window EXACTLY: a pair is emitted iff
    the row has a predecessor AND its own type (dst) is non-NULL —
    the batch's lead() filter keeps (NULL -> x) with a NULL src and
    drops (x -> NULL); a NULL carried type is stored distinctly from
    no-state, so the pair after a NULL event still emits with a NULL
    src across a batch boundary. The key's output type derives from
    the input schema (the temporal_join standard), so non-long keys
    work unchanged. Output: (key, src, dst), one row per transition;
    replayed in event-time order it converges to the batch lag window
    exactly (cross-batch + NULL edge test-pinned)."""
    key_t = events.schema[key].dataType.simpleString()

    def step(pdf, seen):
        pdf = pdf.sort_values([key, ts, id_col])
        karr, dst = pdf[key], pdf[type_col]
        carried = seen.set_index(key)["last_type"]
        head = ~karr.duplicated()
        # key-segment heads read their stored predecessor (NaN for a
        # stored-NULL type — emitted as a NULL src)
        src = dst.groupby(karr.to_numpy()).shift(1).where(~head, karr.map(carried))
        mask = (~head | karr.isin(carried.index)) & dst.notna()
        last = ~karr.duplicated(keep="last")
        return (
            pd.DataFrame({key: karr[mask], "src": src[mask], "dst": dst[mask]}),
            pd.DataFrame({key: karr[last], "last_type": dst[last]}),
        )

    return _keyed_state(
        events,
        f"{key} {key_t}, src string, dst string",
        key,
        T.StructType([T.StructField("last_type", T.StringType())]),
        step,
    )


def funnel_chain_n(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click"),
    probe_type: str = "purchase",
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """N-stage CEP funnel attribution as ONE keyed stateful operator —
    the generalized pattern chain the reference's flink-cep dependency
    implies (r11 VERDICT #5 lifted the 3-stage query into an
    operator): ``stages`` lists the funnel's earlier stages IN ORDER;
    every ``probe_type`` row emits the user's latest ``stages[-1]`` at
    or before it, and for each resolved stage the latest PREVIOUS
    stage at or before THAT — each link binding at the later stage's
    ARRIVAL and stored with it, exactly when the Flink pattern step
    would fire (the state's single slot per stage may already hold a
    NEWER event than a stored link should see, so links are never
    recomputed from later state).

    State per key is M = len(stages) chain vectors, level i holding
    (own ts, i inherited link timestamps) — M(M+1)/2 scalars total in
    one flat array, O(1) forever for a fixed funnel. Within a batch
    rows sort by (key, ts, stage order) so a same-instant earlier
    stage is visible to its successor — the inclusive-backward rule of
    the chained ASOF oracle; carries are vectorized positional ffills
    per level segmented by key (the temporal_enrich idiom), so the
    per-batch cost is M gathers, not a python loop over rows. Each
    touched key re-enters the batch as one seed row per non-empty
    level carrying its STORED vector. Equal-(key, ts) duplicates
    within one stage are out of contract — ``distinct()`` the stage
    streams upstream, as the batch twin does.

    Output: (id, key, probe_ts, {stages[-1]}_ts, ..., {stages[0]}_ts)
    with LEFT semantics — a NULL suffix where the chain ran out.
    """
    stages = tuple(stages)
    M = len(stages)
    if M < 1:
        raise ValueError("funnel_chain_n: need at least one stage before the probe")
    if len(set(stages)) != len(stages):
        raise ValueError("funnel_chain_n: stage names must be distinct")
    _ORD = {s: i for i, s in enumerate(stages)}
    if probe_type in _ORD:
        raise ValueError("funnel_chain_n: probe_type must not repeat a stage")
    _ORD[probe_type] = M
    # flat state layout: level i occupies slots [offs[i], offs[i+1]) —
    # the vector [ts_i, link_{i-1}, ..., link_0], all epoch micros
    offs = [i * (i + 1) // 2 for i in range(M + 1)]
    total = offs[M]

    def step(pdf, seen):
        pdf = pdf[pdf[type_col].isin(list(_ORD))]
        if not len(pdf):
            return None, None
        flat_by = dict(zip(seen[key], seen["flat"]))
        # _seed: which level this row re-enters from state (-1 = fresh)
        pdf = pdf.assign(_seed=-1)
        seeds = [
            {key: k, ts: pd.Timestamp(flat[offs[li]], unit="us"), type_col: stg, "_seed": li}
            for k, flat in flat_by.items()
            for li, stg in enumerate(stages)
            if flat[offs[li]] is not None
        ]
        if seeds:
            seed = _seed_cast(pd.DataFrame(seeds), pdf, (key, ts))
            pdf = pd.concat([seed, _seed_safe_ids(pdf, id_col)], ignore_index=True)
        pdf = (
            pdf.assign(_ord=pdf[type_col].map(_ORD))
            .sort_values([key, ts, "_ord"], kind="mergesort")
            .reset_index(drop=True)
        )
        n = len(pdf)
        types_arr = pdf[type_col].to_numpy()
        seed_lvl = pdf["_seed"].to_numpy()
        karr = pdf[key].to_numpy()
        ts_us = pdf[ts].astype("int64").to_numpy() // 1000  # ns -> us
        carry = None  # after level li: (n, li+1) vector of last li-row <= pos
        new_flat = {k: [np.nan if v is None else v for v in f] for k, f in flat_by.items()}
        for li, stg in enumerate(stages):
            is_s = types_arr == stg
            vec = np.full((n, li + 1), np.nan)
            vec[is_s, 0] = ts_us[is_s]
            if li > 0:
                # fresh rows bind the previous level's carry AT their
                # position — the link resolves at arrival
                fresh = is_s & (seed_lvl != li)
                vec[fresh, 1:] = carry[fresh]
            for r in np.where(is_s & (seed_lvl == li))[0]:
                vec[r] = new_flat[karr[r]][offs[li] : offs[li + 1]]
            pos = pd.Series(np.where(is_s, np.arange(n), np.nan)).groupby(karr).ffill()
            has = pos.notna().to_numpy()
            carry = vec[pos.fillna(0).astype(int).to_numpy()]
            carry[~has] = np.nan
            if is_s.any():
                # each key's LAST stage row writes its state slice
                srows = np.where(is_s)[0]
                for k, r in pd.Series(srows).groupby(karr[srows]).max().items():
                    nf = new_flat.setdefault(k, [np.nan] * total)
                    nf[offs[li] : offs[li + 1]] = vec[int(r)]
        upd = pd.DataFrame({key: list(new_flat), "flat": list(new_flat.values())})
        is_p = types_arr == probe_type
        if not is_p.any():
            return None, upd
        out = {
            id_col: _exact_ids(pdf.loc[is_p, id_col]),
            key: karr[is_p],
            "probe_ts": pdf.loc[is_p, ts].to_numpy(),
        }
        pv = carry[is_p]  # columns: [ts_{M-1}, link_{M-2}, ..., link_0]
        for j in range(M):
            # explicit µs->ns conversion instead of pd.to_datetime's
            # float path: carries are integral µs in float64 slots
            # (< 2^53, exactly representable), so int64*1000 is the
            # same value to_datetime would produce — and the pandas
            # float path intermittently raised FloatingPointError on
            # VALID NaN-mixed arrays inside long-lived reused workers
            # (observed twice, never reproducible in isolation; bench
            # log 2026-08-18). NaN carries become NaT by hand.
            vals = pv[:, j]
            mask = np.isnan(vals)
            good = vals[~mask]
            if len(good) and (good.min() < -9.2e15 or good.max() > 9.2e15):
                # out-of-ns-range carry = corrupted state; never mask
                raise RuntimeError(
                    f"funnel_chain_n: level {j} carry out of datetime64[ns] "
                    f"range: min={good.min()} max={good.max()} n={len(vals)}"
                )
            ns = np.where(mask, 0, vals).astype("int64") * 1000
            arr = ns.view("M8[ns]").copy()
            arr[mask] = np.datetime64("NaT")
            out[f"{stages[M - 1 - j]}_ts"] = arr
        return pd.DataFrame(out), upd

    field = {c: events.schema[c].dataType for c in (key, ts, id_col)}
    out_t = T.StructType(
        [
            T.StructField(id_col, field[id_col]),
            T.StructField(key, field[key]),
            T.StructField("probe_ts", field[ts]),
        ]
        + [T.StructField(f"{s}_ts", field[ts]) for s in reversed(stages)]
    )
    # no TTL: funnel attribution state must persist for the stream's
    # lifetime, like the other as-of carries
    fields = T.StructType([T.StructField("flat", T.ArrayType(T.LongType(), True))])
    return _keyed_state(events, out_t, key, fields, step)


def funnel_chain(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    view_type: str = "view",
    click_type: str = "click",
    probe_type: str = "purchase",
) -> DataFrame:
    """The 3-stage funnel (view -> click -> purchase) as an instance of
    :func:`funnel_chain_n` — kept as the named operator the certified
    funnel_attribution_stream query and its tests run through, so the
    generalization is re-proven by the existing oracle rows. Output:
    (id, key, probe_ts, click_ts, view_ts), LEFT semantics."""
    return funnel_chain_n(
        events,
        stages=(view_type, click_type),
        probe_type=probe_type,
        key=key,
        ts=ts,
        id_col=id_col,
        type_col=type_col,
    )
