"""Driver-style correctness gate in a VANILLA SparkSession.

The external correctness harness builds its own SparkSession without any
of ``get_spark()``'s confs (this is what broke the events queries in
round 1 — ``spark.sql.legacy.parquet.nanosAsLong`` wasn't set until
``load_tables`` learned to pin it at read time). This script reproduces
that environment: a bare ``local[N]`` session, the catalog from
``__spark_entry__``, and the same column-name-sorted order-insensitive
compare as ``tests/conftest.py``.

Usage::

    python tools/vanilla_gate.py [sf_dir] [query ...]

Defaults to /root/testdata/sf0.01 and all queries that have an oracle.
Exit code 0 iff every selected query matches.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    # Spark's Python workers import the package too: give them this checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    from tests.conftest import assert_matches_oracle, duck_con  # noqa: F401

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = sys.argv[2:] or sorted(qs)

    # Vanilla, like the driver: no nanosAsLong, no AQE tweaks, no TZ pin.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("vanilla-gate")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duck_con(sf_dir)
    failed = []
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name in oracles:
                assert_matches_oracle(df, con, oracles[name], name=name)
                status = "match"
            else:
                n = df.count()
                status = f"rows-only ({n})"
        except Exception as exc:  # noqa: BLE001
            status = f"FAIL: {type(exc).__name__}: {exc}"
            failed.append(name)
        print(f"{name:28s} {time.time() - t0:6.1f}s  {status[:200]}")
    print(f"\n{len(names) - len(failed)}/{len(names)} ok; failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
