"""``load_tables``' schema memo: a repeated load of an unchanged file
runs no Spark job, and a rewritten file or a changed parquet read
setting is inferred again."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gmall_flink_0526_spark.session import load_tables

from .conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own interpreter: the memo is process-level, and the check
# stops the session, which the shared test session must survive.
_RELOAD_JOBS = textwrap.dedent(
    """
    import json, sys
    from gmall_flink_0526_spark.session import get_spark, load_tables

    sf, names = sys.argv[1], sys.argv[2:]

    def load(spark, tag):
        sc = spark.sparkContext
        sc.setJobGroup(tag, tag)
        frames = load_tables(spark, sf, *names)
        schemas = {n: df.schema.json() for n, df in frames.items()}
        return len(sc.statusTracker().getJobIdsForGroup(tag)), schemas

    spark = get_spark("memo-probe", cpus=2, driver_memory="1g")
    first = load(spark, "first")
    second = load(spark, "second")
    rows = load_tables(spark, sf, names[0])[names[0]].count()
    spark.stop()
    spark = get_spark("memo-probe", cpus=2, driver_memory="1g")
    third = load(spark, "after_stop")
    rows_after = load_tables(spark, sf, names[0])[names[0]].count()
    spark.stop()
    print(json.dumps({"first": first, "second": second, "after_stop": third,
                      "rows": [rows, rows_after]}))
    """
)


def test_reload_of_unchanged_tables_runs_no_job_even_after_session_stop(tmp_path):
    names = ["orders", "events", "nation"]
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    out = subprocess.run(
        [sys.executable, "-c", _RELOAD_JOBS, SF_SMOKE, *names],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    first_jobs, first_schemas = got["first"]
    assert first_jobs >= len(names)  # the first load reads every footer
    assert got["second"][0] == 0
    assert got["after_stop"][0] == 0
    # the schema served from the memo is the one Spark inferred
    assert got["second"][1] == first_schemas == got["after_stop"][1]
    rows, rows_after = got["rows"]
    assert rows == rows_after > 0


def _write(path, table: pa.Table, layout: str) -> None:
    if layout == "file":
        pq.write_table(table, path)
    else:  # a directory of part files, as Spark writes it
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        half = table.num_rows // 2
        pq.write_table(table.slice(0, half), os.path.join(path, "part-00000.parquet"))
        pq.write_table(table.slice(half), os.path.join(path, "part-00001.parquet"))


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_rewritten_table_is_inferred_again(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"id": [1, 2, 3, 4]}), layout)
    first = load_tables(spark, str(tmp_path), "t")["t"]
    assert first.columns == ["id"]
    assert load_tables(spark, str(tmp_path), "t")["t"].columns == ["id"]

    _write(path, pa.table({"id": [5, 6, 7, 8], "extra": ["a", "b", "c", "d"]}), layout)
    again = load_tables(spark, str(tmp_path), "t")["t"]
    assert again.columns == ["id", "extra"]
    assert sorted(tuple(r) for r in again.collect()) == [
        (5, "a"), (6, "b"), (7, "c"), (8, "d")
    ]


def test_changed_read_setting_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x", b"yz"], pa.binary())}), str(tmp_path / "t.parquet"))
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)

    def b_type() -> str:
        return load_tables(spark, str(tmp_path), "t")["t"].schema["b"].dataType.typeName()

    try:
        spark.conf.set(key, "false")
        assert b_type() == "binary"
        assert b_type() == "binary"
        spark.conf.set(key, "true")
        assert b_type() == "string"
        assert sorted(r["b"] for r in load_tables(spark, str(tmp_path), "t")["t"].collect()) == [
            "x", "yz"
        ]
        spark.conf.set(key, "false")
        assert b_type() == "binary"
    finally:
        spark.conf.set(key, prev)
