"""10x scale probe for the dedup / similarity family.

Synthesizes an ~sf1 corpus (10x the sf0.1 test data: 50k documents /
20k embeddings, same schemas) into a temp dir — a GENERATOR, nothing is
checked in — then times the headline dedup/ANN catalog queries at sf0.1
and at the synthetic sf1 in the SAME process (like-for-like, per the
host-noise rule: never compare timings across quiet windows).

What it verifies empirically, not by argument (SCALE.md "Dedup /
similarity" contract):
- candidate generation cost tracks sum(bucket^2), not corpus^2 — the
  per-query time ratio at 10x data should stay near the data ratio,
  nowhere near 100x;
- the bucket-occupancy histogram (lsh_bucket_audit) with an injected
  boilerplate block (~600 identical docs) shows the hot-bucket cap
  firing: the quadratic bucket is DROPPED, and the probe reports the
  pair count the cap saved;
- pointer-jumping connected components stays in O(log n) rounds;
- the vectorized ANN top-k scales linearly with the corpus;
- the STREAMING incremental-dedup app (doc_incremental_dedup_app, the
  engine's flagship continuous-ingest shape) replayed over the same
  corpus in N micro-batch epochs — with the boilerplate block split
  across epochs like the adversarial oracle fixture — keeps per-epoch
  wall time flat as the signature store grows (cost ∝ batch x bucket
  overlap, never store²), and one compaction cycle collapses the
  epoch directories into a single base generation;
- (r12) the incremental SUBSTRING-dedup app's per-epoch wall stays
  flat as its min/max window index grows, and the index compacts
  through its own reduce to one row per cell;
- (r12) the incremental similarity-graph app reconstructs the batch
  prefix-filter pair set EXACTLY at both scales (the bit-equal pair
  counts are asserted against the batch numbers), per-epoch wall
  tracking the epoch's own pair output;
- (r12) the corpus-vertex rank loop's per-iteration wall vs edge
  count, isolated from the shared pair build;
- keyed state costs what the batch touches: temporal_enrich's
  per-epoch wall at fixed batch rows with 10x and 100x stored keys
  (``--only enrich_keys``).

Usage:  python tools/scale_probe.py [--docs 50000] [--vecs 20000]
Prints one JSON line with timings + bucket stats; paste into SCALE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

VOCAB = (
    "spark batch stream part line column order small sort fast value scan slow "
    "hash group agg filter query big key window row table merge data join shuffle "
    "plan codegen broadcast skew salt bucket partition pushdown prune cache spill "
    "executor driver stage task offset epoch state store sink source channel topic "
    "watermark trigger session tumble slide dedup shingle minhash simhash cosine"
).split()

N_BOILER = 600  # > operators/dedup.MAX_BUCKET -> the cap must fire
BOILER_TEXT = "terms of service all rights reserved cookie policy navigation " * 4


def gen_documents(n_docs: int, rng: np.random.Generator):
    """(doc_id, text, lang, source, n_chars) rows: 80% originals, 10%
    near-dup mutations of an earlier doc, plus a boilerplate block of
    identical docs (the hot-bucket scenario)."""
    rows = []
    langs = np.array(["en", "zh", "de", "fr", "es"])
    texts: list[str] = []
    n_base = n_docs - N_BOILER
    for i in range(n_base):
        if i >= 10 and rng.random() < 0.10:
            # near-dup: mutate ~5% of an earlier doc's tokens
            src_toks = texts[int(rng.integers(0, i))].split()
            toks = [
                t if rng.random() > 0.05 else str(VOCAB[int(rng.integers(0, len(VOCAB)))])
                for t in src_toks
            ]
        else:
            length = int(np.clip(rng.lognormal(3.9, 0.5), 12, 400))
            toks = list(rng.choice(VOCAB, size=length))
        texts.append(" ".join(toks))
    for i in range(n_base):
        t = texts[i]
        rows.append(
            (i, t, str(langs[i % len(langs)]), f"src{i % 20}", len(t))
        )
    for j in range(N_BOILER):
        i = n_base + j
        rows.append((i, BOILER_TEXT, "en", f"src{i % 20}", len(BOILER_TEXT)))
    return rows


def gen_embeddings(n_vecs: int, dim: int, rng: np.random.Generator):
    centers = rng.normal(0, 1.0, size=(10, dim))
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] * 0.3 + rng.normal(0, 0.12, size=(n_vecs, dim))
    return [
        (int(i), [float(x) for x in vecs[i]], int(labels[i])) for i in range(n_vecs)
    ]


def gen_events(spark, out_dir: str, scale: int = 10) -> None:
    """Synthesize a ~sf1 events table (10x the sf0.1 row counts, same
    schema/type mix, 10x the user key space) JVM-side — spark.range +
    hash-derived columns, no Python rows. Timestamps spread over the
    same 30-day window so as-of chains stay dense per user."""
    from pyspark.sql import functions as F

    n_ev, n_users = 100_000 * scale, 1_500 * scale

    def h(m: int, salt: str):
        return F.pmod(F.hash(F.col("id").cast("string"), F.lit(salt)), F.lit(m))

    epoch = F.lit(1704067200)  # 2024-01-01 UTC
    spark.range(n_ev).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            epoch + h(30 * 86400, "ts") + h(1_000_000, "us") / F.lit(1_000_000.0)
        ).alias("ts"),
        h(n_users, "u").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(v) for v in ("view", "click", "purchase", "signup", "error")]),
            (h(5, "et") + 1).cast("int"),
        ).alias("event_type"),
        (h(10_000, "v").cast("double") / 100.0).alias("value"),
        F.concat(F.lit('{"k": '), h(100, "k").cast("string"), F.lit("}")).alias("props"),
    ).repartition(16).write.mode("overwrite").parquet(
        os.path.join(out_dir, "events.parquet")
    )


def gen_warehouse(spark, out_dir: str, scale: int = 10) -> None:
    """Synthesize a ~sf1 TPC-H-ish warehouse (10x the sf0.1 row counts,
    same schemas) entirely JVM-side — spark.range + hash-derived
    columns, no Python row materialization. Key spaces line up
    (l_orderkey covers o_orderkey, o_custkey covers c_custkey, ...) so
    the catalog's join-chain queries produce full-size joins."""
    from pyspark.sql import functions as F

    n_li, n_ord = 600_000 * scale, 150_000 * scale
    n_cust, n_supp = 15_000 * scale, 1_000 * scale

    def h(m: int, salt: str):
        # pmod, not abs(...)%m: abs(Int.MinValue) wraps negative in
        # non-ANSI mode and a negative index would crash element_at
        return F.pmod(F.hash(F.col("id").cast("string"), F.lit(salt)), F.lit(m))

    def pick(salt: str, *vals: str):
        return F.element_at(
            F.array(*[F.lit(v) for v in vals]), (h(len(vals), salt) + 1).cast("int")
        )

    day = F.lit(86400)
    epoch_1992 = F.lit(694224000)  # 1992-01-01 UTC
    spark.range(n_ord).select(
        (F.col("id") + 1).alias("o_orderkey"),
        (h(n_cust, "oc") + 1).alias("o_custkey"),
        pick("os", "O", "F", "P").alias("o_orderstatus"),
        (h(100_000, "tp").cast("double") / 100.0 + 100.0).alias("o_totalprice"),
        F.timestamp_seconds(epoch_1992 + h(2555, "od") * day).alias("o_orderdate"),
        F.concat(F.lit("P"), (h(5, "pr") + 1).cast("string")).alias("o_orderpriority"),
    ).repartition(16).write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))
    spark.range(n_li).select(
        (F.col("id") % n_ord + 1).alias("l_orderkey"),
        (h(20_000 * scale, "lp") + 1).alias("l_partkey"),
        (h(n_supp, "ls") + 1).alias("l_suppkey"),
        (h(7, "ln") + 1).cast("int").alias("l_linenumber"),
        (h(50, "lq").cast("double") + 1.0).alias("l_quantity"),
        (h(90_000, "le").cast("double") / 100.0 + 100.0).alias("l_extendedprice"),
        (h(11, "ld").cast("double") / 100.0).alias("l_discount"),
        (h(9, "lt").cast("double") / 100.0).alias("l_tax"),
        pick("lr", "A", "N", "R").alias("l_returnflag"),
        pick("ll", "O", "F").alias("l_linestatus"),
        F.timestamp_seconds(epoch_1992 + h(2555, "lsd") * day).alias("l_shipdate"),
    ).repartition(32).write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))
    spark.range(n_cust).select(
        (F.col("id") + 1).alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.col("id").cast("string")).alias("c_name"),
        h(25, "cn").cast("int").alias("c_nationkey"),
        (h(1_000_000, "cb").cast("double") / 100.0).alias("c_acctbal"),
        pick("cm", "BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE").alias(
            "c_mktsegment"
        ),
    ).repartition(4).write.mode("overwrite").parquet(os.path.join(out_dir, "customer.parquet"))
    spark.range(n_supp).select(
        (F.col("id") + 1).alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.col("id").cast("string")).alias("s_name"),
        h(25, "sn").cast("int").alias("s_nationkey"),
        (h(1_000_000, "sb").cast("double") / 100.0).alias("s_acctbal"),
    ).repartition(2).write.mode("overwrite").parquet(os.path.join(out_dir, "supplier.parquet"))
    for t in ("nation", "region"):
        spark.read.parquet(f"/root/testdata/sf0.1/{t}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, f"{t}.parquet"))


def probe_skew(spark, n_fact: int = 6_000_000, n_dim: int = 150_000) -> dict:
    """Measure the engine's two skew answers on a deliberately skewed
    big-big join (30% of the fact rows share ONE key; broadcast
    disabled to model the regime where both sides are too large to
    broadcast): (a) AQE's runtime skew-join splitting — the default
    session posture, (b) `salted_join` — the manual cure for when the
    join must stay shuffled or the skew is extreme, against (c) the
    naive shuffled join with both disabled, where one task drags the
    whole stage. All three must return identical aggregates."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators.partitioning import salted_join

    fact = spark.range(n_fact).select(
        F.when(F.col("id") % 10 < 3, F.lit(0))
        .otherwise(F.pmod(F.hash(F.col("id").cast("string")), F.lit(n_dim)) + 1)
        .alias("k"),
        (F.col("id") % 1000).alias("x"),
    )
    dim = spark.range(n_dim + 1).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )

    def run(df) -> tuple[float, int, float]:
        t0 = time.time()
        row = df.groupBy().agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
        return round(time.time() - t0, 2), int(row["n"]), float(row["s"])

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
    out = {}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        sec, n, s = run(fact.join(dim, "k"))
        out["naive_shuffled"] = {"sec": sec, "rows": n}
        sec, n2, s2 = run(salted_join(fact, dim, ["k"], buckets=32))
        out["salted_join"] = {"sec": sec, "rows": n2}
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        sec, n3, s3 = run(fact.join(dim, "k"))
        out["aqe_skew_split"] = {"sec": sec, "rows": n3}
        assert n == n2 == n3 and s == s2 == s3, "skew variants disagree"
        out["agree"] = True
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
    return out


def probe_tfidf_skew(spark, n_docs: int = 40_000, toks_per_doc: int = 250) -> dict:
    """Attribute `tfidf_top_terms`' probe ratio (the steepest line in
    the 10x table) to its linear explode volume vs its doc-keyed top-k
    window. Two corpora with IDENTICAL total token volume and a large
    open vocabulary (so per-doc distinct-token count ~ doc length, the
    regime where the window partition can actually grow): UNIFORM
    (every doc ``toks_per_doc`` tokens) vs SKEWED (20 giant docs of
    125k tokens hold 25% of all tokens — per-doc DISTINCT terms, the
    window partition size, saturate toward the 100k vocabulary:
    measured ~71.5k, ~300x the uniform case's 250). If the
    full-query ratio skewed/uniform
    tracks the tf-stage-only ratio (~1x: same volume), the cost is
    explode volume and the window is immaterial; a window bottleneck
    would show the full-query ratio diverging while the tf stage
    stays flat."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators.partitioning import spread
    from gmall_flink_0526_spark.plans.text import TFIDF_TOP_K

    total = n_docs * toks_per_doc
    giant_share, n_giant = 0.25, 20

    def synth(skewed: bool):
        # open vocab: tokens are "t<hash % 100k>" so distinct-per-doc
        # ~ length; deterministic from the id, generated distributed
        if skewed:
            giant_len = int(total * giant_share / n_giant)
            short_len = int(total * (1 - giant_share) / (n_docs - n_giant))
            lens = F.when(F.col("doc_id") < n_giant, F.lit(giant_len)).otherwise(
                F.lit(short_len)
            )
        else:
            lens = F.lit(toks_per_doc)
        return (
            spread(spark.range(n_docs).select(F.col("id").alias("doc_id")), "doc_id")
            .select("doc_id", F.explode(F.sequence(F.lit(0), lens - 1)).alias("i"))
            .select(
                "doc_id",
                F.concat(
                    F.lit("t"),
                    F.pmod(F.hash(F.col("doc_id") * 1_000_003 + F.col("i")), F.lit(100_000)),
                ).alias("tok"),
            )
        )

    def run(toks) -> dict:
        from pyspark.sql import Window as W

        tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf")).persist()
        t0 = time.time()
        n_tf = tf.count()
        tf_sec = round(time.time() - t0, 2)
        dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
        n_d = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
        scored = (
            tf.join(dfreq, "tok")
            .crossJoin(F.broadcast(n_d))
            .withColumn("score", F.col("tf").cast("double") * F.col("n_docs") / F.col("df"))
        )
        w = W.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
        t0 = time.time()
        n_out = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TFIDF_TOP_K)
            .count()
        )
        rest_sec = round(time.time() - t0, 2)
        big = tf.groupBy("doc_id").agg(F.count("*").alias("v")).agg(F.max("v")).collect()[0][0]
        tf.unpersist()
        return {
            "tf_stage_sec": tf_sec,
            "join_window_sec": rest_sec,
            "tf_rows": int(n_tf),
            "out_rows": int(n_out),
            "max_doc_vocab": int(big),
        }

    # warm codegen so compile lands on neither variant
    run(synth(False).filter(F.col("doc_id") < 500))
    out = {"uniform": run(synth(False)), "skewed": run(synth(True))}
    out["full_ratio_skewed_over_uniform"] = round(
        (out["skewed"]["tf_stage_sec"] + out["skewed"]["join_window_sec"])
        / max(out["uniform"]["tf_stage_sec"] + out["uniform"]["join_window_sec"], 1e-9),
        2,
    )
    return out


def probe_hot_bucket_rep(spark, sf1_dir: str) -> dict:
    """The 600-copy boilerplate block under the r7 agg+broadcast rep
    form: the hot bucket must still collapse to exactly its 599
    (min-id representative, member) pairs — identical semantics to the
    window form it replaced — and the annotation join must be a
    BroadcastHashJoin (the bands side keeps its incoming
    partitioning)."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators import dedup as D

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    boiler_ids = sorted(
        r["doc_id"]
        for r in docs.filter(F.col("text") == BOILER_TEXT).select("doc_id").collect()
    )
    rep = boiler_ids[0]
    sh = D.doc_shingles(docs, "doc_id", "text")
    pairs = D.lsh_pairs_from_bands(D.lsh_band_keys(sh))
    bpairs = pairs.filter(
        F.col("doc_a").isin(boiler_ids) & F.col("doc_b").isin(boiler_ids)
    )
    got = {(r["doc_a"], r["doc_b"]) for r in bpairs.collect()}
    # AQE's FINAL plan (read after execution): the hot-stats
    # annotation join must have gone broadcast
    plan = bpairs._jdf.queryExecution().executedPlan().toString()
    want = {(rep, m) for m in boiler_ids[1:]}
    return {
        "boiler_docs": len(boiler_ids),
        "rep_pairs": len(got),
        "pairs_identical_to_contract": got == want,
        "broadcast_hash_joins_in_plan": plan.count("BroadcastHashJoin"),
    }


def _data_epochs(q, state: bool = False) -> list[dict]:
    """One entry per data epoch of a stopped query, from its own
    progress events: batch id, input rows and trigger seconds; with
    ``state``, also ``addBatch`` seconds and the state rows and bytes
    summed over its state operators."""
    out = []
    for p in (json.loads(x.json) for x in q.recentProgress):
        if p["numInputRows"] == 0:
            continue
        e = {
            "epoch": p["batchId"],
            "rows": p["numInputRows"],
            "sec": round(p["durationMs"]["triggerExecution"] / 1000.0, 2),
        }
        if state:
            e["addBatch_sec"] = round(p["durationMs"].get("addBatch", 0) / 1000.0, 2)
            e["state_keys_rows"] = sum(s["numRowsTotal"] for s in p["stateOperators"])
            e["state_bytes"] = sum(s["memoryUsedBytes"] for s in p["stateOperators"])
        out.append(e)
    return out


def probe_incremental_stream(spark, sf_dir: str, n_epochs: int) -> dict:
    """Replay ``sf_dir``'s documents through the REAL streaming
    incremental-dedup app in ``n_epochs`` micro-batches (doc_id %
    n_epochs — the boilerplate block's contiguous ids split across
    every epoch, the adversarial fixture shape), then run one
    compaction cycle. Returns per-epoch trigger wall-times (from the
    engine's own progress events), per-epoch store growth, and the
    compaction time + resulting generation count."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.session import load_tables
    from gmall_flink_0526_spark.streaming.pipelines import (
        compact_signature_store,
        doc_incremental_dedup_app,
    )
    from gmall_flink_0526_spark.streaming.replay import replay_registry, run_to_end

    docs = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    reg = replay_registry(
        "gmall_incprobe_",
        ods_documents=(docs, n_epochs, ["doc_id"], F.col("doc_id") % n_epochs),
    )
    try:
        ckpt, store = os.path.join(reg.root, "ckpt"), os.path.join(reg.root, "store")
        t0 = time.time()
        q = run_to_end(spark, reg, lambda: doc_incremental_dedup_app(spark, reg, ckpt, store))
        progress = _data_epochs(q)
        total_s = round(time.time() - t0, 2)
        bands = spark.read.parquet(os.path.join(store, "sig_bands"))
        growth = {
            int(r["epoch"]): int(r["ct"])
            for r in bands.groupBy("epoch").agg(F.count("*").alias("ct")).collect()
        }
        kept = spark.read.parquet(reg.channels["dwd_documents_unique"].path).count()

        def _store_bytes() -> int:
            total = 0
            for dirpath, _dirs, files in os.walk(store):
                total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
            return total

        bytes_before = _store_bytes()
        pinned_before = int(spark.sparkContext._jsc.getPersistentRDDs().size())
        t0 = time.time()
        compact_signature_store(spark, store, upto_epoch=n_epochs - 1)
        compact_s = round(time.time() - t0, 2)
        # disk-to-disk contract: the compactor must leave nothing NEW
        # pinned in executor memory (the pre-r7 localCheckpoint design
        # pinned the whole merged store) — its cost tracks the store's
        # bytes on disk
        pinned = int(spark.sparkContext._jsc.getPersistentRDDs().size()) - pinned_before
        gens = sorted(
            int(r["epoch"])
            for r in spark.read.parquet(os.path.join(store, "sig_bands"))
            .select("epoch")
            .distinct()
            .collect()
        )
        return {
            "epochs": progress,
            "total_sec": total_s,
            "kept_docs": int(kept),
            "store_rows_per_epoch": growth,
            "compact_sec": compact_s,
            "store_bytes_before_compaction": bytes_before,
            "store_bytes_after_compaction": _store_bytes(),
            "rdds_pinned_by_compaction": pinned,
            "generations_after_compaction": gens,
        }
    finally:
        shutil.rmtree(reg.root, ignore_errors=True)


def probe_substring_stream(spark, sf_dir: str, n_epochs: int) -> dict:
    """r12: replay ``sf_dir``'s documents through the REAL incremental
    substring-dedup app in ``n_epochs`` micro-batches (doc_id %
    n_epochs — the boilerplate block split across every epoch), then
    one compaction cycle, which folds the window index through its own
    min/max merge (``STORE_MERGES["win_index"]``). Claims under
    test: per-epoch trigger wall stays flat as the window index grows
    (cost ∝ batch windows + index overlap, never corpus²), and the
    reduced compaction collapses the index to one row per still-
    distinct window cell."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.session import load_tables
    from gmall_flink_0526_spark.streaming.pipelines import (
        compact_signature_store,
        substring_dedup_app,
    )
    from gmall_flink_0526_spark.streaming.replay import replay_registry, run_to_end

    docs = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    reg = replay_registry(
        "gmall_substrprobe_",
        ods_documents=(docs, n_epochs, ["doc_id"], F.col("doc_id") % n_epochs),
    )
    try:
        ckpt, store = os.path.join(reg.root, "ckpt"), os.path.join(reg.root, "store")
        t0 = time.time()
        q = run_to_end(spark, reg, lambda: substring_dedup_app(spark, reg, ckpt, store))
        progress = _data_epochs(q)
        total_s = round(time.time() - t0, 2)
        idx = spark.read.parquet(os.path.join(store, "win_index"))
        growth = {
            int(r["epoch"]): int(r["ct"])
            for r in idx.groupBy("epoch").agg(F.count("*").alias("ct")).collect()
        }
        rows_before = idx.count()
        cut_docs = spark.read.parquet(reg.channels["dwd_documents_cut"].path).count()
        t0 = time.time()
        compact_signature_store(spark, store, upto_epoch=n_epochs - 1, subs=("win_index",))
        compact_s = round(time.time() - t0, 2)
        after = spark.read.parquet(os.path.join(store, "win_index"))
        return {
            "epochs": progress,
            "total_sec": total_s,
            "cut_docs": int(cut_docs),
            "index_rows_per_epoch": growth,
            "index_rows_before_compaction": int(rows_before),
            "index_rows_after_reduced_compaction": int(after.count()),
            "compact_sec": compact_s,
            "generations_after_compaction": sorted(
                int(r["epoch"]) for r in after.select("epoch").distinct().collect()
            ),
        }
    finally:
        shutil.rmtree(reg.root, ignore_errors=True)


def probe_similarity_graph_stream(spark, sf_dir: str, n_epochs: int) -> dict:
    """r12: replay documents through the incremental similarity-graph
    app. Honest claims: per-epoch wall tracks batch x per-gram store
    overlap PLUS the epoch's true pair output (under the stable hash
    order there is no rarity pruning — a duplicate block's pair set is
    quadratic by definition, the prefix_filter_near_dup caveat:
    production runs exact dedup upstream); the pair store accumulates
    disjoint per-epoch discoveries."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.session import load_tables
    from gmall_flink_0526_spark.streaming.pipelines import similarity_graph_app
    from gmall_flink_0526_spark.streaming.replay import replay_registry, run_to_end

    docs = load_tables(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    reg = replay_registry(
        "gmall_simgraphprobe_",
        ods_documents=(docs, n_epochs, ["doc_id"], F.col("doc_id") % n_epochs),
    )
    try:
        ckpt, store = os.path.join(reg.root, "ckpt"), os.path.join(reg.root, "store")
        t0 = time.time()
        q = run_to_end(spark, reg, lambda: similarity_graph_app(spark, reg, ckpt, store))
        progress = _data_epochs(q)
        total_s = round(time.time() - t0, 2)
        pairs = spark.read.parquet(os.path.join(store, "pairs"))
        per_epoch_pairs = {
            int(r["epoch"]): int(r["ct"])
            for r in pairs.groupBy("epoch").agg(F.count("*").alias("ct")).collect()
        }
        return {
            "epochs": progress,
            "total_sec": total_s,
            "pairs_per_epoch": per_epoch_pairs,
            "total_pairs": int(sum(per_epoch_pairs.values())),
        }
    finally:
        shutil.rmtree(reg.root, ignore_errors=True)


def probe_enrich_keys(spark, batch_keys: int = 1_000, mults=(1, 10, 100)) -> dict:
    """Keys-only scaling of the keyed-state operators, on
    temporal_enrich: epoch 0 stores one dim version for each of
    K = ``batch_keys`` x m keys; epochs 1 and 2 each carry the SAME
    2 x ``batch_keys`` rows (a build and a later probe per touched key,
    touched keys spread over the whole key space, so over every state
    bucket). Batch rows are fixed while stored keys grow 10x and 100x:
    per-epoch wall of epochs 1-2 must stay flat, since a step sees only
    the stored entries of the keys its batch touches."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.streaming.replay import replay_registry, run_to_end
    from gmall_flink_0526_spark.streaming.stateful import state_partitions, temporal_enrich

    t0 = 1704067200  # 2024-01-01 UTC
    out = {"batch_rows": 2 * batch_keys}
    for m in mults:
        n_keys = batch_keys * m
        seed = spark.range(n_keys).select(
            F.col("id").alias("event_id"),
            F.lit(0).alias("epoch"),
            F.col("id").alias("user_id"),
            F.lit("dimchange").alias("event_type"),
            F.timestamp_seconds(F.lit(t0)).alias("ts"),
            F.col("id").cast("double").alias("value"),
        )
        j = F.col("id") % (2 * batch_keys)
        epoch = (F.col("id") / (2 * batch_keys)).cast("long") + 1
        touched = spark.range(4 * batch_keys).select(
            (F.col("id") + n_keys).alias("event_id"),
            epoch.cast("int").alias("epoch"),
            ((j / 2).cast("long") * m).alias("user_id"),
            F.when(j % 2 == 0, "dimchange").otherwise("order").alias("event_type"),
            F.timestamp_seconds(F.lit(t0) + epoch * 3600 + j % 2).alias("ts"),
            F.when(j % 2 == 0, epoch.cast("double")).alias("value"),
        )
        reg = replay_registry(
            "gmall_enrichprobe_",
            ods_enrich=(seed.unionByName(touched), 3, ["ts", "event_id"], F.col("epoch")),
        )
        try:
            reg.register("enrich_out", kind="memory")
            q = run_to_end(
                spark,
                reg,
                lambda: reg.write_stream(
                    temporal_enrich(reg.read_stream(spark, "ods_enrich", max_files_per_trigger=1)),
                    "enrich_out",
                    os.path.join(reg.root, "ckpt"),
                ),
                partitions=state_partitions(spark),
                n_files=3,
            )
            out[f"keys_{n_keys}"] = _data_epochs(q, state=True)
        finally:
            shutil.rmtree(reg.root, ignore_errors=True)
    return out


def probe_doc_pagerank(spark, sf_dir: str) -> dict:
    """r12: the corpus-VERTEX rank loop in isolation — the pair-table
    build is shared with the prefix-filter family (corpus-persisted),
    so this times ONLY the K merge-join iterations and reports the
    edge count they shuffle against: per-iteration wall must track
    edges, with no corpus² term (the 10x corpus's boilerplate block
    inflates the TRUE pair graph quadratically by definition — that is
    the edge count growing, not the loop degrading)."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators.graph import pagerank_partitioned
    from gmall_flink_0526_spark.plans.dedup import (
        DOC_PR_PARTITIONS,
        prefix_filter_pairs,
    )
    from gmall_flink_0526_spark.plans.logs import (
        PAGERANK_D,
        PAGERANK_ITERS,
        PAGERANK_RESET,
    )
    from gmall_flink_0526_spark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = prefix_filter_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .withColumn("w", F.lit(1))
    ).persist()
    n_edges = edges.count()  # materializes the shared pair build too
    nodes = docs.select(F.col("doc_id").alias("node"))
    t0 = time.time()
    ranks = pagerank_partitioned(
        nodes,
        edges,
        iters=PAGERANK_ITERS,
        d=float(PAGERANK_D),
        reset=float(PAGERANK_RESET),
        num_partitions=DOC_PR_PARTITIONS,
    )
    n_nodes = ranks.count()
    loop_s = round(time.time() - t0, 2)
    edges.unpersist()
    return {
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "loop_sec": loop_s,
        "per_iter_sec": round(loop_s / PAGERANK_ITERS, 2),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=50_000)
    ap.add_argument("--vecs", type=int, default=20_000)
    ap.add_argument("--stream-epochs", type=int, default=6)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated probe subset: tfidf_skew,hot_bucket,incremental,"
        "enrich_keys "
        "(default: the full probe)",
    )
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators import dedup as D
    from gmall_flink_0526_spark.plans import queries
    from gmall_flink_0526_spark.session import get_spark, load_tables

    spark = get_spark("scale_probe", cpus=args.cpus)
    rng = np.random.default_rng(7)

    if only is not None:
        # quick subset mode: run just the named probes (the full probe
        # regenerates the whole 10x corpus + warehouse, ~minutes)
        out = {"probe": "subset", "only": sorted(only)}
        sub_sf1 = None
        try:
            if {"hot_bucket", "incremental"} & only:
                sub_sf1 = tempfile.mkdtemp(prefix="gmall_sf1_")
                spark.createDataFrame(
                    gen_documents(args.docs, rng),
                    "doc_id long, text string, lang string, source string, n_chars long",
                ).repartition(32).write.mode("overwrite").parquet(
                    os.path.join(sub_sf1, "documents.parquet")
                )
            if "enrich_keys" in only:
                out["enrich_keys"] = probe_enrich_keys(spark)
            if "tfidf_skew" in only:
                out["tfidf_skew"] = probe_tfidf_skew(spark)
            if "hot_bucket" in only:
                out["hot_bucket_rep"] = probe_hot_bucket_rep(spark, sub_sf1)
            if "incremental" in only:
                out["incremental_stream"] = {
                    label: probe_incremental_stream(spark, d, args.stream_epochs)
                    for label, d in (
                        ("sf0.1", "/root/testdata/sf0.1"),
                        ("sf1", sub_sf1),
                    )
                }
        finally:
            if sub_sf1:
                shutil.rmtree(sub_sf1, ignore_errors=True)
        print(json.dumps(out))
        return

    sf1 = tempfile.mkdtemp(prefix="gmall_sf1_")
    try:
        t0 = time.time()
        docs = spark.createDataFrame(
            gen_documents(args.docs, rng),
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.repartition(32).write.mode("overwrite").parquet(
            os.path.join(sf1, "documents.parquet")
        )
        emb = spark.createDataFrame(
            gen_embeddings(args.vecs, 64, rng),
            "vec_id long, embedding array<float>, label int",
        )
        emb.repartition(8).write.mode("overwrite").parquet(
            os.path.join(sf1, "embeddings.parquet")
        )
        gen_s = round(time.time() - t0, 2)

        qs = queries()
        names = [
            "dedup_minhash_lsh",
            "dedup_clusters",
            "simhash_near_dup",
            "rhp_near_dup",
            "ann_topk_vectorized",
            "lsh_bucket_audit",
            # dataset-engineering family: map-only / single-shuffle
            # claims (SCALE.md "Dataset engineering") measured, not argued
            "corpus_build",
            "chunk_dedup",
            "decontaminate",
            "sequence_packing",
            "tfidf_top_terms",
            # r5 additions: the inverted-index coverage signal must stay
            # linear in total shingles; SemDeDup's pairwise stage must
            # track sum(cluster size^2) as the corpus (and its cluster
            # count's occupancy) grows; the calibration audit must track
            # the capped candidate count
            "duplicate_ngram_coverage",
            "embedding_semdedup",
            "minhash_estimate_audit",
            # r6: the source-blocked pairwise query gained the rep cap —
            # its ratio must now track data size, not per-source²
            "ngram_jaccard_pairs",
            # r6 additions: the sweep rides the same capped candidate
            # set as embedding_semdedup; token retention is the dedup
            # chain + one agg; the incremental embedding check is
            # batch x cluster-overlap; the coverage histogram shares
            # the corpus-scoped inverted index
            "semdedup_threshold_sweep",
            "dedup_token_retention",
            "embedding_incremental_near_dup",
            "dup_coverage_histogram",
            # r7: near-match decontamination — candidates are train x
            # per-bucket eval overlap over the corpus band table, so
            # the ratio must track data size like the LSH family
            "decontaminate_fuzzy",
            # r9 sketches: the bloom prefilter is map-side screening +
            # a verify join shrunk to bloom-positive shingles, and the
            # CMS grid is one map-side-combinable grouped count — both
            # ratios must track data size with no quadratic term
            "decontaminate_bloom",
            "heavy_hitters_cms",
            # r11: the EXACT prefix-filter join's output is by
            # definition quadratic in a duplicate block (the 600-copy
            # boilerplate block's true pair set IS ~180k pairs), so
            # the probe watches that the WALL tracks the true pair
            # volume — rarest-first prefixes keep candidate == true
            # class, no spurious quadratic on the non-dup mass; the
            # recall audit rides the same pair table via its
            # corpus-persisted build
            "prefix_filter_near_dup",
            "lsh_recall_exact",
            # r12: substring-level dedup is one count shuffle + one
            # doc-keyed agg (NO pair join) — the ratio must track total
            # shingles even though the corpus carries the 600-copy
            # block that makes pairwise dedup quadratic; the audit adds
            # one source-keyed agg. The post-dedup recall composition
            # adds a fixed 256-copy block, so its wall tracks the
            # natural corpus.
            "substring_dedup",
            "substring_dedup_audit",
            "lsh_recall_post_dedup",
            # r13: the second substring run length rides the same
            # linear pipeline (wider windows, fewer of them); the
            # perceptual media hash is 64 fixed cell rows per payload +
            # one band equi-join (never all-pairs, rep-capped like
            # simhash); the PQ family's corpus cost is ONE broadcast-
            # codebook join (fit is sample-bounded) and ADC scoring is
            # a code-table join + (qid, cid) sum — all ratios must
            # track data size; the weighted rank loop shares
            # prefix_filter_near_dup's corpus-persisted pair table, so
            # its incremental cost is the 5-step merge-join loop the
            # doc_pagerank probe isolates per-iteration.
            "substring_dedup_l16",
            "media_near_dup",
            "media_near_dup_audit",
            "embedding_pq_audit",
            "ann_recall_pq",
            "ann_recall_pq_rerank",
            "doc_pagerank_weighted",
            # r13 (second session): the bigram-LM family's model is
            # distinct-bigram-bounded (corpus-SUBLINEAR under Zipf) and
            # scoring is one bigram-keyed hash join — both ratios must
            # track data size; the gate adds one doc-count-sized
            # percentile aggregate. Label propagation shares the
            # prefix pair table; its 3 rounds are edge-bound like the
            # rank loop. IVF-PQ's corpus cost is the residual pass +
            # code assignment (map-shaped), ADC is bucket-bound; the
            # recall row carries the probes x corpus brute baseline by
            # design (linear in corpus at fixed probes). The gap-fill
            # rollups are one grouped agg + entity-keyed windows over
            # a grid bounded by entities x hours — at 10x rows the
            # grid is unchanged, so wall must track the rollup scan.
            "ngram_lm_perplexity",
            "perplexity_filter",
            "doc_communities",
            "ann_recall_ivfpq",
            # bm25's cost is sum over query tokens of posting-list
            # length — linear in corpus rows at a fixed query set
            "bm25_topk",
            # the RRF fusion is probe-bounded past its two (already
            # probed) input rankings — a full outer join of two
            # k-per-probe frames
            "ann_rrf_fusion",
            # r14: semantic decontamination — candidate cost is
            # sum_c(train_ct x eval_ct) with the eval side fixed at
            # 1/7 of the corpus here (a REAL deployment holds eval
            # constant, making the screen linear in train); the audit
            # adds one doc-keyed join + grouped counts
            "decontaminate_semantic",
            "decontaminate_semantic_audit",
            # r14: DSIR — target model distinct-bigram-bounded over
            # the target slice; scoring adds two LEFT joins on the
            # same bigram key to the perplexity join, so the ratio
            # must track exploded-bigram volume (the LM family class)
            "dsir_importance",
            "dsir_select_audit",
            # ... and the 2-probe screen: NPROBE x the eval-bounded
            # candidate set, same class
            "decontaminate_semantic_nprobe",
            # r14: the cross-method audit composes three probed screen
            # shapes; its own additions are doc-keyed joins over the
            # flagged union (r15: + the exact screen as a 4th column)
            "decon_method_agreement",
            # r15: the EXACT semantic screen is one broadcast-eval
            # linear pass over the train side (eval fixed at 1/7 of
            # the corpus here; a real deployment holds eval constant,
            # making it strictly linear); the rung audit adds a
            # pair-keyed join over the eval-bounded hit sets
            "decontaminate_semantic_brute",
            "decon_semantic_rungs",
            # r15: hashed DSIR — the model is <= DSIR_HASH_B rows at
            # ANY corpus size (the probe's point: the model frames
            # stay fixed-width while the corpus grows 10x), scoring
            # two broadcast map-side joins over exploded bigrams; the
            # agreement audit adds two doc-count rank windows
            "dsir_hashed",
            "dsir_hashed_agreement",
            # r15: the screen's streaming twin — per-epoch cost is
            # batch x broadcast-eval (eval fixed at 1/7 of the corpus
            # here) plus the one-time bootstrap fit; the flag store
            # grows with flags, never rescanned
            "decontaminate_semantic_stream",
            # r15: the truncation audit is 3 probe-bounded brute
            # passes (full + 2 truncated widths) — linear in corpus at
            # fixed probes; hard-negative mining is the IVF bucket
            # join + a band filter, cluster-bounded like the retrieval
            # it mirrors
            "ann_recall_matryoshka",
            "hard_negative_mining",
            # r16: the MRL serving rung adds per-dim truncated
            # shortlists (probe-bounded brute passes) + a pool-bounded
            # full-width re-rank — still linear in corpus at fixed
            # probes/pools
            "ann_recall_matryoshka_rerank",
            # r16: nprobe mining is NPROBE x the bucket join; the rungs
            # audit adds pair-keyed joins over the band-bounded sets
            "hard_negative_mining_nprobe",
            "hard_negative_rungs",
            # r16: the hashed-DSIR stream replays the corpus through
            # the fixed-width grid app — per-epoch store writes stay
            # <= DSIR_HASH_B rows at BOTH scales (the corpus-size-free
            # claim, probed); scoring is the shared batch tail
            "dsir_hashed_stream",
            # r16: the executed hashed gate — one grouped pass over the
            # already-persisted hashed scores (dsir_select_audit class)
            "dsir_hashed_select_audit",
            # r16: the triplet table shares ONE scored frame between
            # the positive top-1 and the negative band — one bucket
            # join, the mining class
            "contrastive_triplets",
            # r16 second block: the triplet miner's replay — per-epoch
            # cost is batch x broadcast-probes, store append-only (the
            # decon_screen_app deployment shape)
            "contrastive_triplets_stream",
            # r16 second block: the in-engine perceptron — fit is
            # sample-bounded (CORPUS-SIZE-FREE, the claim to probe: fit
            # wall flat across 10x), scoring map-side with literal
            # weights + one grouped count
            "quality_perceptron_train",
            "quality_perceptron_filter",
            "quality_perceptron_agreement",
            # ...and its replay: every store write <= n_languages rows
            # + the one-row model card regardless of corpus size
            "quality_perceptron_stream",
        ]
        # warmup: touch both dirs' footers (BOTH tables — otherwise the
        # embeddings first-touch lands on the first ANN query's timing)
        for sf_dir in ("/root/testdata/sf0.1", sf1):
            for t in load_tables(spark, sf_dir, "documents", "embeddings").values():
                t.limit(1).count()

        timings: dict[str, dict[str, float]] = {}
        for sf_label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1)):
            for name in names:
                t0 = time.time()
                n = qs[name](spark, sf_dir).count()
                timings.setdefault(name, {})[sf_label] = round(time.time() - t0, 2)
                timings[name][f"{sf_label}_rows"] = n

        # bucket histogram + what the cap saved at sf1 (capped buckets
        # keep their m-1 representative pairs; saved = quadratic minus
        # the linear rep pairs kept)
        audit = qs["lsh_bucket_audit"](spark, sf1).orderBy(F.desc("bucket_size"))
        hist = [r.asDict() for r in audit.limit(8).collect()]
        dropped = [h for h in hist if h["capped"]]
        saved_pairs = sum(h["cand_pairs"] - h["kept_pairs"] for h in dropped)

        # SemDeDup adaptive-k audit (r6): k grows with the corpus, so
        # mean cluster occupancy must stay ~SEMDEDUP_TARGET_CLUSTER at
        # both scales with the hot-cluster cap rarely firing — the cap
        # is the backstop now, not the defense
        from gmall_flink_0526_spark.plans.similarity import SEMDEDUP_MAX_CLUSTER

        semdedup_occ = {}
        for sf_label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1)):
            occ = qs["embedding_cluster_stats"](spark, sf_dir).collect()
            ns = sorted(int(r["n_vecs"]) for r in occ)
            semdedup_occ[sf_label] = {
                "k": len(ns),
                "mean_occ": round(sum(ns) / len(ns), 1),
                "max_occ": ns[-1],
                "capped_clusters": sum(1 for n in ns if n > SEMDEDUP_MAX_CLUSTER),
            }

        # TPC-H join chain at 10x (r6): synthesize the warehouse and
        # time the widest join surface (Q5 6-table chain) plus the
        # flagship scan-agg; record the broadcast/SMJ split of the plan
        wh = tempfile.mkdtemp(prefix="gmall_wh10_")
        try:
            t0 = time.time()
            gen_warehouse(spark, wh, scale=10)
            wh_gen_s = round(time.time() - t0, 2)
            warehouse = {"gen_sec": wh_gen_s}
            q5_sf1 = None
            # r10: dim_enrichment_asof rides the warehouse corpus — the
            # as-of union-fill (one custkey exchange + per-key sort)
            # must track data size with no fan-out term at 10x
            # r14: the schema-evolution replay rides the warehouse
            # corpus (orders envelopes) — per-epoch cost is the
            # config-sized broadcast + the dim-bounded MERGE, so the
            # 2-epoch replay must track the envelope volume
            # the point-in-time replay runs the bucketed temporal_enrich
            # (group calls per micro-batch <= STATE_BUCKETS, independent
            # of key count) — at 10x customers the replay wall must
            # track the envelope volume, not the key count
            for name in ("local_supplier_volume", "pricing_summary", "dim_enrichment_asof",
                         "dim_schema_evolution", "dim_enrichment_asof_stream"):
                for sf_label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", wh)):
                    t0 = time.time()
                    df = qs[name](spark, sf_dir)
                    n = df.count()
                    warehouse.setdefault(name, {})[sf_label] = round(time.time() - t0, 2)
                    warehouse[name][f"{sf_label}_rows"] = n
                    if name == "local_supplier_volume" and sf_label == "sf1":
                        q5_sf1 = df
            # the plan AFTER execution: AQE's final strategies (its
            # runtime SMJ->broadcast conversions are exactly what a
            # 10x probe should observe), not the static planner's
            plan = q5_sf1._jdf.queryExecution().executedPlan().toString()
            warehouse["q5_sf1_joins"] = {
                "broadcast_hash": plan.count("BroadcastHashJoin"),
                "sort_merge": plan.count("SortMergeJoin"),
                "shuffled_hash": plan.count("ShuffledHashJoin"),
                "aqe_final": "isFinalPlan=true" in plan,
            }
            # r11: the chained-as-of funnel rides a 10x EVENTS corpus —
            # two union-fills (one user_id exchange + per-key sort
            # each), so 10x rows and 10x users must track ~linearly
            # with no stage x stage fan-out term
            gen_events(spark, wh, scale=10)
            # r11 additions on the same 10x events corpus: pagerank's
            # iteration tail must stay corpus-size-free (only the edge
            # aggregation scales), and the HLL register grid is
            # corpus-size-free by construction
            for name in (
                "funnel_attribution",
                "asof_click_attribution",
                "behavior_pagerank",
                "approx_distinct_hll",
                # r13 second session: the gap-fill rollups are one
                # grouped agg + entity-keyed windows over a grid
                # bounded by entities x hours — at 10x rows the grid
                # is unchanged, so wall must track the rollup scan;
                # OHLC is one map-side-combined grouped agg
                "events_gapfill_locf",
                "events_gapfill_interp",
                "events_ohlc_hourly",
                # r15: the late-drop replay is the windowed agg's
                # 4-batch out-of-order replay — cost is the replay
                # write + four watermark-bounded micro-batches, so 10x
                # events must track the replay volume (state stays
                # open-window-bounded; the drop itself is a stateless
                # per-row filter)
                "visitor_stats_late_drop",
                # r17: two bucketed keyed-state replays — group calls
                # per micro-batch are bounded by STATE_BUCKETS, so 10x
                # events and 10x active keys must
                # track the replay volume with no per-key overhead term
                "uv_first_visit_stream",
                "funnel_attribution_stream",
            ):
                for sf_label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", wh)):
                    t0 = time.time()
                    n = qs[name](spark, sf_dir).count()
                    warehouse.setdefault(name, {})[sf_label] = round(time.time() - t0, 2)
                    warehouse[name][f"{sf_label}_rows"] = n
        finally:
            shutil.rmtree(wh, ignore_errors=True)

        # skewed big-big join: the naive shuffled join's hot partition
        # vs AQE's runtime skew split vs salted_join (r6). One small
        # warm pass first — SMJ codegen compile (~3 s) otherwise lands
        # on whichever variant runs first and fakes a skew penalty —
        # then the measured run at a scale where the hot partition
        # (12M rows) actually dominates the stage
        probe_skew(spark, n_fact=2_000_000)
        skew = probe_skew(spark, n_fact=40_000_000)

        # streaming incremental dedup at both scales: per-epoch times
        # should stay flat within a run and scale ~linearly with the
        # per-epoch batch size across runs
        inc = {
            label: probe_incremental_stream(spark, sf_dir, args.stream_epochs)
            for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1))
        }

        # r7: tfidf cost attribution + the 600-copy block under the
        # agg+broadcast rep form
        tfidf_skew = probe_tfidf_skew(spark)
        hot_rep = probe_hot_bucket_rep(spark, sf1)

        # r12: the corpus-vertex rank loop, isolated from the shared
        # pair build — per-iteration wall vs edge count at both scales
        doc_pr = {
            label: probe_doc_pagerank(spark, sf_dir)
            for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1))
        }

        # r12: the incremental substring app's per-epoch wall must stay
        # flat as the window index grows; compaction folds the index
        # through its min/max merge
        substr_stream = {
            label: probe_substring_stream(spark, sf_dir, args.stream_epochs)
            for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1))
        }

        # r12: incremental similarity-graph discovery — per-epoch wall
        # vs true pair output (quadratic in the boilerplate block by
        # definition; exact dedup is the documented upstream gate)
        simgraph_stream = {
            label: probe_similarity_graph_stream(spark, sf_dir, args.stream_epochs)
            for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1))
        }

        # keyed state at fixed batch rows and 10x / 100x stored keys
        enrich_keys = probe_enrich_keys(spark)

        # connected-components round count is log(diameter): assert the
        # probe corpus (chains via mutation-of-mutation) stays shallow
        out = {
            "probe": "dedup_ann_10x",
            "docs": args.docs,
            "vecs": args.vecs,
            "gen_sec": gen_s,
            "timings": timings,
            "semdedup_occupancy": semdedup_occ,
            "warehouse_10x": warehouse,
            "skew_join": skew,
            "tfidf_skew": tfidf_skew,
            "hot_bucket_rep": hot_rep,
            "doc_pagerank_loop": doc_pr,
            "substring_stream": substr_stream,
            "similarity_graph_stream": simgraph_stream,
            "incremental_stream": inc,
            "enrich_keys": enrich_keys,
            "hot_buckets_capped": len(dropped),
            "quadratic_pairs_saved": int(saved_pairs),
            "top_buckets": [
                {k: (int(v) if not isinstance(v, bool) else v) for k, v in h.items()}
                for h in hist
            ],
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(sf1, ignore_errors=True)


if __name__ == "__main__":
    main()
