"""Replay runner: every catalog stream replay's one lifecycle.

The convergence contract (SURVEY §5): replaying a table through a
streaming operator in timestamp order must reproduce the batch twin.
Catalog queries run the real streaming path over a replay so the
external DuckDB oracle value-checks it. The file channel stands in for
Kafka (one micro-batch per file, files ordered by event time — the
offset-ordered-consumption analogue).

Every replay goes through two helpers:

- :func:`replay_registry` builds the channels: a fresh root removed at
  exit, each channel registered with its frame's schema and written by
  :func:`write_replay` as ordered micro-batch files. A write that raises
  removes the root.
- :func:`run_to_end` owns the query: it starts it, runs it to the end of
  its input, and stops it in a ``finally``.

  - *Fan-out.* The whole run, not just ``start()``, sits inside
    :func:`~..session.shuffle_partitions`: Spark keeps the query's count
    from its start, but foreachBatch bodies also shuffle through the
    outer session while the query runs (``base_db_app``'s dim MERGE).
    The default, :data:`JVM_PARTITIONS` = 8, is for queries whose state
    and shuffles are JVM-side (foreachBatch apps, stream-stream joins,
    ``dropDuplicates``). There each partition is a state-store commit or
    shuffle unit, not compute, and fewer units win at replay scale:
    ``order_wide_stream`` measured 16.1 s at 16 partitions and 7.0 s at
    8, with identical output. Keyed-state replays pass
    :func:`~.stateful.state_partitions`, one wave of Python state tasks.
  - *Drain.* ``processAllAvailable()`` by default. With ``n_files`` it
    uses :func:`drain`'s offsets wait instead, for keyed state under
    ``ProcessingTimeTimeout``, where ``processAllAvailable`` never
    returns.
  - *Errors.* On any exception the query is stopped if still active,
    the registry's root is removed and the original error re-raised. An
    epoch that raises inside foreachBatch already terminates its query,
    so on that path the removal is what matters: a failed replay's root
    would otherwise stay on disk until the process exits.

:func:`replay_stateful` is the keyed-state replay built on both: a
cached source channel, a memory sink, and the collected output.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..session import shuffle_partitions
from ..sources.registry import ChannelRegistry, write_replay
from .stateful import state_partitions

#: Shuffle partitions of a replay whose state and shuffles are JVM-side
#: (see the module docstring for the measurement).
JVM_PARTITIONS = 8

_SEQ = 0
# replay channels are immutable once written — share them across the
# queries of one session instead of re-sorting/re-writing per query
_CHANNEL_CACHE: dict[tuple, ChannelRegistry] = {}
_TEMP_ROOTS: set[str] = set()


def temp_replay_root(prefix: str) -> str:
    """A fresh temp dir that is removed at process exit at the latest."""
    root = tempfile.mkdtemp(prefix=prefix)
    _TEMP_ROOTS.add(root)
    return root


def _remove_root(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    _TEMP_ROOTS.discard(root)


@atexit.register
def _remove_temp_roots() -> None:
    for root in list(_TEMP_ROOTS):
        _remove_root(root)


def replay_registry(prefix: str, **channels) -> ChannelRegistry:
    """A registry on a fresh :func:`temp_replay_root` holding one
    replay channel per keyword, ``name=(df, n_files, order_by[,
    file_of])``: registered with ``df``'s schema and written by
    :func:`write_replay`. If a write raises, the root is removed."""
    reg = ChannelRegistry(temp_replay_root(prefix))
    try:
        for name, (df, n_files, order_by, *file_of) in channels.items():
            reg.register(name, schema=df.schema)
            write_replay(
                df, reg.channels[name].path, n_files=n_files, order_by=order_by,
                file_of=file_of[0] if file_of else None,
            )
    except BaseException:
        _remove_root(reg.root)
        raise
    return reg


def with_sentinel(df: DataFrame, after: str, **fills) -> DataFrame:
    """``df`` plus one flush row: ``ts`` is ``max(ts) + INTERVAL after``
    and every other column takes its value from ``fills``, cast to the
    column's type.

    Windowed aggregates and stream-stream joins emit a row only once
    the watermark passes it, and the watermark advances only with data.
    A replay therefore ends on this far-future row, whose ``fills``
    (keys that join or group with nothing real) keep it out of the real
    output while its arrival flushes every real row."""
    far = df.agg(
        *[
            (F.max("ts") + F.expr(f"INTERVAL {after}")).alias("ts")
            if f.name == "ts"
            else F.lit(fills[f.name]).cast(f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
    )
    return df.unionByName(far)


def run_to_end(
    spark: SparkSession,
    reg: ChannelRegistry,
    start,
    *,
    partitions: int = JVM_PARTITIONS,
    n_files: int | None = None,
):
    """Start the query ``start()`` returns, run it over all its input
    and stop it; returns the stopped query (``recentProgress`` stays
    readable). ``n_files`` switches the drain to :func:`drain`. On an
    exception ``reg.root`` is removed and the error re-raised."""
    try:
        with shuffle_partitions(spark, partitions):
            q = start()
            try:
                if n_files is None:
                    q.processAllAvailable()
                else:
                    drain(q, n_files=n_files)
            finally:
                q.stop()
        return q
    except BaseException:
        _remove_root(reg.root)
        raise


def drain(q, n_files: int, timeout: float = 600) -> None:
    """Wait until a file-source streaming query has consumed all
    ``n_files`` files of its one source.

    ``q.processAllAvailable()`` never returns for queries using
    ``ProcessingTimeTimeout``: the engine keeps scheduling empty
    batches to evaluate state timeouts, resetting the no-new-data
    latch. Trigger.AvailableNow hangs the same way.

    Completion is deterministic instead: ``lastProgress`` only ever
    reflects a COMMITTED batch, and with maxFilesPerTrigger=1 the file
    source's end offset after the last data batch is exactly
    ``n_files - 1`` — so the moment a progress carries that offset, all
    output is in the sink and the query can stop. (Stopping right then
    also shrinks the window in which a processing-time state timeout
    could fire spuriously.)
    """
    deadline = time.time() + timeout
    while time.time() < deadline:
        # a failed query never reaches its end offset — surface its
        # real error now instead of masking it as a drain timeout
        if q.exception() is not None:
            raise q.exception()
        lp = q.lastProgress
        if lp:
            # the offset condition below reads source 0 only: a
            # multi-source query (stream-stream join) would stop when
            # ONE side finishes, silently truncating output — fail
            # loudly instead
            if len(lp["sources"]) != 1:
                raise ValueError(
                    f"drain supports exactly one source, query {q.name!r} "
                    f"has {len(lp['sources'])}; run it to the end with "
                    "processAllAvailable (run_to_end without n_files)"
                )
            # endOffset is an opaque offset: a dict in some PySpark
            # versions, a JSON-encoded string in others
            raw = lp["sources"][0].get("endOffset")
            off = -1
            if isinstance(raw, dict):
                off = raw.get("logOffset", -1)
            elif raw is not None:
                m = re.search(r"-?\d+", str(raw))
                off = int(m.group()) if m else -1
            if off >= n_files - 1:
                return
        time.sleep(0.1)
    raise TimeoutError(f"stream {q.name} did not drain in {timeout}s")


def replay_stateful(
    spark: SparkSession,
    source_df: DataFrame,
    op,
    *,
    order_by: list[str],
    n_files: int = 3,
    cache_key: str | None = None,
    drain_mode: str = "offsets",
    file_of=None,
) -> DataFrame:
    """Replay ``source_df`` through streaming operator ``op`` (a
    callable ``stream DataFrame -> stream DataFrame``) and return the
    collected output as a batch DataFrame.

    The replay is split into ``n_files`` micro-batches ordered by
    ``order_by`` (event time first), so keyed state observes rows in
    the same order the batch twin assumes. The query runs at
    :func:`~.stateful.state_partitions`, one wave of state tasks: each
    state partition is a Python task with a fixed set-up cost, while
    an epoch makes at most ``STATE_BUCKETS`` group calls in all.
    Measured on a 4-core host (``is_new_fix_stream`` at sf0.1,
    ``tools/profile_query.py --reps 5``, two runs): 2.48/2.21 s at 4
    state partitions, 2.66/3.22 s at 8.

    ``drain_mode="all_available"`` is for windowed aggregations: they
    emit watermark-flushed rows in a batch AFTER the last data batch
    (watermark(N) comes from data(N-1)), so the offset condition would
    stop early; their NoTimeout state lets processAllAvailable return.

    ``file_of`` (optional Column, int in [0, n_files)) passes through
    to :func:`write_replay`: an EXPLICIT micro-batch assignment for
    operators whose semantics care where the batch boundary falls
    (e.g. a temporal join whose tie rule wants equal-event-time rows
    co-batched). It must be monotone in the ``order_by`` event-time
    prefix, and callers that use it must pick a ``cache_key`` distinct
    from any default-split replay of the same source.
    """
    global _SEQ
    _SEQ += 1
    out_name = f"replay_out_{_SEQ}"
    ck = (cache_key, source_df.schema.simpleString(), n_files, tuple(order_by)) if cache_key else None
    src = _CHANNEL_CACHE.get(ck) if ck else None
    if src is None:
        src = replay_registry(
            "gmall_replay_src_", replay_src=(source_df, n_files, order_by, file_of)
        )
        if ck:
            _CHANNEL_CACHE[ck] = src
    out = ChannelRegistry(temp_replay_root("gmall_replay_run_"))
    out.register(out_name, kind="memory")
    try:
        run_to_end(
            spark,
            out,
            lambda: out.write_stream(
                op(src.read_stream(spark, "replay_src", max_files_per_trigger=1)),
                out_name,
                os.path.join(out.root, "ckpt"),
            ),
            partitions=state_partitions(spark),
            n_files=None if drain_mode == "all_available" else n_files,
        )
        # the memory sink holds rows driver-side; safe to return after
        # the checkpoint scratch dir is gone
        return spark.sql(f"SELECT * FROM {out_name}_mem")
    finally:
        _remove_root(out.root)
        if not ck:
            _remove_root(src.root)
