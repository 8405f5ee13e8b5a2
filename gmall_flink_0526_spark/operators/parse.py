"""Parsing / projection / scalar-transform operators (SURVEY §2.3).

Pure ``DataFrame -> DataFrame`` functions, batch/stream agnostic —
the same call works on a static frame and on a Structured Streaming
frame (Catalyst resolves the identical logical plan either way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T


def parse_json(df: DataFrame, col: str, schema: T.StructType, out: str = "data") -> DataFrame:
    """P2 — JSON string -> typed struct column (``from_json``).

    Reference: ``JSON.parseObject(line, OrderInfo.class)`` at
    RT/app/dwm/OrderWideApp.java:44-46.
    """
    return df.withColumn(out, F.from_json(F.col(col), schema))


#: The boolean column :func:`flag_dead_letter` adds.
DEAD_LETTER = "_dead_letter"


def flag_dead_letter(df: DataFrame, col: str, schema: T.StructType, out: str = "data") -> DataFrame:
    """P1 — try-parse with a dead-letter flag: the one definition of
    dirty input.

    Parses ``col`` once into the struct ``out`` and adds the boolean
    column :data:`DEAD_LETTER`, true where the payload is present but is not valid
    JSON of ``schema`` (malformed or truncated text, a non-object, a
    field of the wrong type). A NULL payload is clean, with NULL
    ``out``. The flag is never NULL. On dirty rows ``out`` carries
    nothing usable. Consumers either split on the flag
    (:func:`parse_json_dead_letter`) or aggregate keyed by it, which
    keeps the parse to one per row either way.
    """
    # PERMISSIVE from_json maps malformed input to an all-null struct,
    # not a null struct — the corrupt-record column is the reliable
    # dirty signal (same trick as the JSON file reader). Naming it as an
    # explicit option also keeps the optimizer from pruning the parse
    # schema down to the fields a consumer reads: a consumer of the flag
    # alone would otherwise parse without ``schema``'s fields and miss
    # every wrong-typed one.
    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = df.withColumn(
        out,
        F.from_json(
            F.col(col), with_corrupt, {"columnNameOfCorruptRecord": "_corrupt_record"}
        ),
    )
    dirty = F.col(col).isNotNull() & (
        F.col(out).isNull() | F.col(f"{out}._corrupt_record").isNotNull()
    )
    return parsed.withColumn(DEAD_LETTER, dirty).withColumn(
        out, F.col(out).dropFields("_corrupt_record")
    )


def parse_json_dead_letter(
    df: DataFrame, col: str, schema: T.StructType, out: str = "data"
) -> tuple[DataFrame, DataFrame]:
    """P1 — try-parse with dirty-data side output.

    Reference diverts unparseable lines to a ``Dirty`` OutputTag
    (RT/app/dwd/BaseLogApp.java:35-56). The split is the two halves of
    :func:`flag_dead_letter`'s flag: ``clean`` keeps the parsed ``out``
    struct (NULL payloads included), ``dead_letter`` keeps the input
    columns only. In streaming both branches share the source.

    Returns ``(clean, dead_letter)``.
    """
    flagged = flag_dead_letter(df, col, schema, out)
    clean = flagged.filter(~F.col(DEAD_LETTER)).drop(DEAD_LETTER)
    dirty = flagged.filter(F.col(DEAD_LETTER)).drop(out, DEAD_LETTER)
    return clean, dirty


def derive_time_columns(df: DataFrame, ts: str, prefix: str = "create") -> DataFrame:
    """P3 — split an event timestamp into date / hour / epoch-ms columns.

    Reference: RT/app/dwm/OrderWideApp.java:48-54 (string split on the
    ``yyyy-MM-dd HH:mm:ss`` form). Here the source column is a proper
    timestamp; all three derivations are codegen'd JVM expressions.
    """
    # Parquet timestamps may arrive as TIMESTAMP_NTZ; with the session
    # pinned to UTC the cast to (LTZ) timestamp is value-preserving.
    c = F.col(ts).cast("timestamp")
    return (
        df.withColumn(f"{prefix}_date", F.date_format(c, "yyyy-MM-dd"))
        .withColumn(f"{prefix}_hour", F.date_format(c, "HH"))
        .withColumn(f"{prefix}_ts", F.unix_millis(c))
    )


def project_columns(df: DataFrame, columns: list[str]) -> DataFrame:
    """P4 — config-driven column projection.

    Reference filters a JSONObject down to ``sinkColumns``
    (RT/app/func/TableProcessFunction.java:165-184). Statically known
    config -> a plain ``select`` (Catalyst prunes the scan to match).
    """
    return df.select(*columns)


def project_map_columns(df: DataFrame, map_col: str, cols_col: str) -> DataFrame:
    """P4 (dynamic variant) — per-row column subset of a MapType column,
    where the allowed keys arrive as a CSV string column (the joined
    ``sinkColumns`` config). ``map_filter`` runs JVM-side. A NULL
    ``cols_col`` (nullable in TABLE_PROCESS) means "keep everything" —
    without the guard, split(NULL) -> NULL array would drop every key.
    """
    allowed = F.split(F.col(cols_col), ",")
    filtered = F.map_filter(F.col(map_col), lambda k, _v: F.array_contains(allowed, k))
    return df.withColumn(
        map_col, F.when(F.col(cols_col).isNull(), F.col(map_col)).otherwise(filtered)
    )


def explode_with_parent(
    df: DataFrame, array_col: str, parent_cols: dict[str, Column], out: str = "item"
) -> DataFrame:
    """P5 — flatten an array column, stamping each element with parent
    fields (reference: displays[] stamped with ts + page_id,
    RT/app/dwd/BaseLogApp.java:120-140)."""
    out_df = df.withColumn(out, F.explode(F.col(array_col))).drop(array_col)
    for name, expr in parent_cols.items():
        out_df = out_df.withColumn(name, expr)
    return out_df


def coalesce_merge(left: DataFrame, right: DataFrame, on: list[str], how: str = "inner") -> DataFrame:
    """P6 — record merge with null-coalescing field union.

    Reference: ``OrderWide.mergeOtherOrderWide`` takes the non-null
    value per field (RT/bean/OrderWide.java:88-105). Shared columns
    become ``coalesce(left.x, right.x)``; disjoint columns pass through.
    """
    shared = [c for c in left.columns if c in right.columns and c not in on]
    joined = left.alias("l").join(right.alias("r"), on=on, how=how)
    cols = [F.col(c) for c in on]
    cols += [F.coalesce(F.col(f"l.{c}"), F.col(f"r.{c}")).alias(c) for c in shared]
    cols += [F.col(f"l.{c}") for c in left.columns if c not in shared and c not in on]
    cols += [F.col(f"r.{c}") for c in right.columns if c not in shared and c not in on]
    return joined.select(*cols)


def snake_to_camel(df: DataFrame) -> DataFrame:
    """P7 — snake_case -> camelCase rename (reference uses Guava
    CaseFormat on JDBC columns, RT/utils/JdbcUtil.java:46-48)."""

    def camel(s: str) -> str:
        head, *rest = s.split("_")
        return head + "".join(w.capitalize() for w in rest)

    return df.toDF(*[camel(c) for c in df.columns])


def drop_transient(df: DataFrame, transient_cols: list[str]) -> DataFrame:
    """K5 helper — exclude accumulator columns from the sink, the
    Spark form of the ``@TransientSink`` reflection filter
    (RT/utils/ClickHouseUtil.java:42-47, RT/bean/TransientSink.java)."""
    return df.drop(*transient_cols)
