"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``--seed``: the same seed yields the
same bytes. Generation runs before the program under test starts and is
never timed. Generated inputs are cached per seed under the work
directory, so repeated runs of one seed reuse them.

The workloads read TPC-H-ish tables plus ``events`` in the
fixture schemas (see ``FIXTURES.md``). Columns follow the salted-hash
recipes of ``tools/scale_probe.py`` (``gen_warehouse``/``gen_events``:
each column is ``pmod(hash(id, salt), m)``), with the seed mixed into
every salt; the hash is numpy's splitmix64 so no Spark session is
needed to build them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EPOCH_2024_S = 1704067200  # 2024-01-01 UTC
EPOCH_1992_S = 694224000  # 1992-01-01 UTC
DAY_S = 86400
VERSION = 1  # bump when a generator changes, so stale caches are not reused


def _salt(seed: int, salt: str) -> np.uint64:
    digest = hashlib.blake2b(f"{seed}:{salt}".encode(), digest_size=8).digest()
    return np.uint64(int.from_bytes(digest, "little"))


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def salted_hash(ids: np.ndarray, m: int, seed: int, salt: str) -> np.ndarray:
    """``pmod(hash(id, salt), m)`` with the seed folded into the salt."""
    with np.errstate(over="ignore"):
        mixed = _splitmix64(ids.astype(np.uint64) ^ _salt(seed, salt))
    return (mixed % np.uint64(m)).astype(np.int64)


def _pick(ids, seed, salt, values) -> np.ndarray:
    return np.asarray(values, dtype=object)[salted_hash(ids, len(values), seed, salt)]


def _ts_us(seconds: np.ndarray) -> pa.Array:
    """Naive microsecond timestamps, the fixture's parquet encoding."""
    return pa.array((seconds * 1_000_000).astype("datetime64[us]"), type=pa.timestamp("us"))


def warehouse_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """TPC-H-ish tables at ``scale`` x sf0.1 row counts. Key spaces line
    up (``l_orderkey`` covers ``o_orderkey`` and so on) so every join in
    the catalog produces full-size output."""
    n_ord, n_li = int(150_000 * scale), int(600_000 * scale)
    n_cust, n_supp, n_part = int(15_000 * scale), max(int(1_000 * scale), 10), int(20_000 * scale)
    h = lambda ids, m, salt: salted_hash(ids, m, seed, salt)  # noqa: E731
    o = np.arange(n_ord)
    li = np.arange(n_li)
    c = np.arange(n_cust)
    s = np.arange(n_supp)
    p = np.arange(n_part)
    return {
        "orders": pa.table(
            {
                "o_orderkey": o,
                "o_custkey": h(o, n_cust, "oc"),
                "o_orderstatus": _pick(o, seed, "os", ("O", "F", "P")),
                "o_totalprice": h(o, 100_000, "tp") / 100.0 + 100.0,
                "o_orderdate": _ts_us(EPOCH_1992_S + h(o, 2555, "od") * DAY_S),
                "o_orderpriority": _pick(
                    o, seed, "pr", ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": li % n_ord,
                "l_partkey": h(li, n_part, "lp"),
                "l_suppkey": h(li, n_supp, "ls"),
                "l_linenumber": pa.array(h(li, 7, "ln") + 1, type=pa.int32()),
                "l_quantity": (h(li, 50, "lq") + 1).astype(np.float64),
                "l_extendedprice": h(li, 90_000, "le") / 100.0 + 100.0,
                "l_discount": h(li, 11, "ld") / 100.0,
                "l_tax": h(li, 9, "lt") / 100.0,
                "l_returnflag": _pick(li, seed, "lr", ("A", "N", "R")),
                "l_linestatus": _pick(li, seed, "ll", ("O", "F")),
                "l_shipdate": _ts_us(EPOCH_1992_S + h(li, 2555, "lsd") * DAY_S),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": c,
                "c_name": [f"Customer#{i:09d}" for i in c],
                "c_nationkey": pa.array(h(c, 25, "cn"), type=pa.int32()),
                "c_acctbal": h(c, 1_000_000, "cb") / 100.0,
                "c_mktsegment": _pick(
                    c, seed, "cm", ("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": s,
                "s_name": [f"Supplier#{i:09d}" for i in s],
                "s_nationkey": pa.array(h(s, 25, "sn"), type=pa.int32()),
                "s_acctbal": h(s, 1_000_000, "sb") / 100.0,
            }
        ),
        "part": pa.table(
            {
                "p_partkey": p,
                "p_name": _pick(p, seed, "pa", ("large", "hot", "blue", "small", "dark"))
                + " "
                + _pick(p, seed, "pn", ("ring", "bolt", "gear", "pipe")),
                "p_brand": np.char.add("Brand#", (h(p, 25, "pb") + 1).astype(str)).astype(object),
                "p_type": _pick(p, seed, "pt", ("LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD")),
                "p_size": pa.array(h(p, 50, "ps") + 1, type=pa.int32()),
                "p_retailprice": 900.0 + (p % 1000) / 10.0,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
            }
        ),
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
    }


def events_table(seed: int, n_events: int, n_users: int) -> pa.Table:
    """The fixture's ``events`` shape over ``n_users`` users, spread over
    the same 30-day window so per-user chains stay dense."""
    e = np.arange(n_events)
    h = lambda m, salt: salted_hash(e, m, seed, salt)  # noqa: E731
    return pa.table(
        {
            "event_id": e,
            "ts": pa.array(
                ((EPOCH_2024_S + h(30 * DAY_S, "ts")) * 1_000_000 + h(1_000_000, "us")).astype(
                    "datetime64[us]"
                ),
                type=pa.timestamp("us"),
            ),
            "user_id": h(n_users, "u"),
            "event_type": _pick(e, seed, "et", EVENT_TYPES),
            "value": h(10_000, "v") / 100.0,
            "props": np.char.add(np.char.add('{"k": ', h(100, "k").astype(str)), "}").astype(object),
        }
    )


def _key_stats(table: pa.Table, key: str) -> dict:
    counts = np.unique(table.column(key).to_numpy(), return_counts=True)[1]
    return {"distinct": int(len(counts)), "top_share": round(float(counts.max() / counts.sum()), 6)}


def realized(tables: dict[str, pa.Table]) -> dict:
    """Realized input properties recorded with every run."""
    out: dict = {"rows": {n: t.num_rows for n, t in tables.items()}}
    keys = {"events": "user_id", "orders": "o_custkey", "lineitem": "l_partkey"}
    for name, key in keys.items():
        if name in tables:
            out[f"{name}.{key}"] = _key_stats(tables[name], key)
    if "events" in tables:
        props = tables["events"].column("props").to_pylist()
        out["events.dirty_share"] = round(sum(not p.endswith("}") for p in props) / len(props), 6)
    return out


def _cached(root: str, key: str, build) -> str:
    """Build ``key`` under ``root`` once; later calls reuse it."""
    path = os.path.join(root, key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok\n")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def table_dir(root: str, seed: int, *, scale: float, n_users: int, tables: tuple[str, ...]) -> str:
    """A directory of ``<table>.parquet`` files for ``tables``, the
    catalog's ``sf_dir`` contract, plus ``realized.json``."""
    key = f"tables-v{VERSION}-s{seed}-x{scale}-u{n_users}-{'.'.join(sorted(tables))}"

    def build(tmp: str) -> None:
        built = {n: t for n, t in warehouse_tables(seed, scale).items() if n in tables}
        if "events" in tables:
            built["events"] = events_table(seed, int(100_000 * scale), n_users)
        for name, t in built.items():
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "realized.json"), "w") as fh:
            json.dump(realized(built), fh, sort_keys=True)

    return _cached(root, key, build)
