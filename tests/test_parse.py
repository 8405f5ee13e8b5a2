"""The dead-letter flag and the clean / dirty split built on it, against
a plain-Python model of "valid JSON of the schema"."""

from __future__ import annotations

import json

from pyspark.sql import types as T

from gmall_flink_0526_spark.operators.parse import (
    DEAD_LETTER,
    flag_dead_letter,
    parse_json_dead_letter,
)

SCHEMA = T.StructType([T.StructField("k", T.LongType())])

PAYLOADS = [
    '{"k": 3}',  # valid
    '{"k": -7, "other": [1, 2]}',  # valid, unknown field ignored
    '{"k": null}',  # valid, NULL field
    "{}",  # valid, field absent
    '{"k": 3',  # truncated
    '{"k"',  # truncated
    "",  # empty text
    None,  # NULL payload: clean, NULL data
    '{"k": "abc"}',  # wrong-typed field
    '{"k": true}',  # wrong-typed field
    '{"k": 1.5}',  # wrong-typed field
    "[1, 2]",  # not an object
]


def model(payload):
    """``(dirty, k)``: NULL payloads are clean with no data; otherwise a
    payload is clean iff it is a JSON object whose ``k`` is absent, null
    or a 64-bit integer."""
    if payload is None:
        return False, None
    try:
        obj = json.loads(payload)
    except ValueError:
        return True, None
    if not isinstance(obj, dict):
        return True, None
    k = obj.get("k")
    if k is None:
        return False, None
    if isinstance(k, int) and not isinstance(k, bool) and -(2**63) <= k < 2**63:
        return False, k
    return True, None


def _frame(spark):
    return spark.createDataFrame(list(enumerate(PAYLOADS)), "id long, payload string")


def test_flag_dead_letter_matches_python_model(spark):
    flagged = flag_dead_letter(_frame(spark), "payload", SCHEMA, out="data")
    assert flagged.columns == ["id", "payload", "data", DEAD_LETTER]
    assert flagged.schema["data"].dataType == SCHEMA  # the corrupt column is dropped
    got = {r["id"]: r for r in flagged.collect()}
    for i, payload in enumerate(PAYLOADS):
        dirty, k = model(payload)
        row = got[i]
        assert row[DEAD_LETTER] is dirty, payload  # never NULL
        if payload is None:
            assert row["data"] is None
        elif not dirty:
            assert row["data"]["k"] == k, payload


def test_dead_letter_split_is_the_flags_partition(spark):
    df = _frame(spark)
    clean, dirty = parse_json_dead_letter(df, "payload", SCHEMA, out="data")
    flagged = {
        r["id"]: r for r in flag_dead_letter(df, "payload", SCHEMA, out="data").collect()
    }
    assert clean.columns == ["id", "payload", "data"]
    assert dirty.columns == ["id", "payload"]
    clean_rows = {r["id"]: r for r in clean.collect()}
    dirty_ids = sorted(r["id"] for r in dirty.collect())
    assert sorted(clean_rows) == sorted(i for i, r in flagged.items() if not r[DEAD_LETTER])
    assert dirty_ids == sorted(i for i, r in flagged.items() if r[DEAD_LETTER])
    assert dirty_ids == [i for i, p in enumerate(PAYLOADS) if model(p)[0]]
    for i, r in clean_rows.items():
        assert r["data"] == flagged[i]["data"]
