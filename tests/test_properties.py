"""Property-based tests (hypothesis): Spark operators vs plain-Python
models on generated inputs. Few examples, deadline off — each example
costs a Spark job."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from gmall_flink_0526_spark.operators.textops import shingles, tokenize
from gmall_flink_0526_spark.sources.cdc import apply_changes

TEXT = st.text(
    alphabet=st.sampled_from(list("ab c\tXY1.")), min_size=0, max_size=40
)


def py_tokenize(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s.lower()) if t != ""]


def py_shingles(toks: list[str], n: int = 3) -> list[str]:
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@settings(max_examples=12, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_tokenize_shingles_match_python_model(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    rows = (
        df.select("i", tokenize(F.col("text")).alias("toks"))
        .select("i", "toks", shingles(F.col("toks"), 3).alias("s"))
        .orderBy("i")
        .collect()
    )
    for r in rows:
        want_toks = py_tokenize(texts[r["i"]])
        assert list(r["toks"]) == want_toks
        assert list(r["s"]) == py_shingles(want_toks)


OPS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=99),  # value carried in 'after'
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=12, deadline=None)
@given(OPS)
def test_apply_changes_matches_python_model(spark, ops):
    rows = [
        (k, typ, {"v": str(v)}, i)  # i = arrival order = seq
        for i, (k, typ, v) in enumerate(ops)
    ]
    df = spark.createDataFrame(
        rows, "k long, type string, after map<string,string>, seq long"
    )
    got = {
        r["k"]: r["after"]["v"]
        for r in apply_changes(df, "k", "seq").collect()
    }
    # sequential replay model: per key the last op decides — absent if
    # it is a delete, else its carried value
    expected = {}
    last = {}
    for k, typ, v in ops:
        last[k] = (typ, str(v))
    for k, (typ, v) in last.items():
        if typ != "delete":
            expected[k] = v
    assert got == expected


CJK_TEXT = st.text(
    alphabet=st.sampled_from(list("中文分词测试大数ab 1,.")), min_size=0, max_size=24
)


def py_tokenize_cjk(s: str) -> list[str]:
    out = []
    for run in re.findall(r"([一-鿿]+|[a-z0-9]+)", s.lower()):
        if re.match(r"[一-鿿]", run):
            if len(run) == 1:
                out.append(run)
            else:
                out.extend(run[i : i + 2] for i in range(len(run) - 1))
        else:
            out.append(run)
    return out


@settings(max_examples=12, deadline=None)
@given(st.lists(CJK_TEXT, min_size=1, max_size=6))
def test_tokenize_cjk_matches_python_model(spark, texts):
    from gmall_flink_0526_spark.operators.textops import tokenize_cjk

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    rows = df.select("i", tokenize_cjk(F.col("text")).alias("k")).orderBy("i").collect()
    for r in rows:
        assert list(r["k"]) == py_tokenize_cjk(texts[r["i"]])


def py_chunks(toks: list[str], size: int, stride: int) -> list[tuple[int, int]]:
    """(chunk_idx, n_tokens) per chunk, the coverage model."""
    if not toks:
        return []
    return [
        ((s - 1) // stride, min(size, len(toks) - s + 1))
        for s in range(1, len(toks) + 1, stride)
    ]


@settings(max_examples=12, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=5), st.integers(2, 6), st.integers(1, 5))
def test_chunking_matches_python_model(spark, texts, size, stride):
    """Every chunk the Python model predicts exists with the same token
    count — in particular every token is covered and overlap is exactly
    size - stride when stride < size."""
    from gmall_flink_0526_spark.operators.textops import chunk_docs

    stride = min(stride, size)  # stride > size would skip tokens
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = chunk_docs(df, chunk_tokens=size, stride=stride).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_tokens"]))
    for i, t in enumerate(texts):
        want = py_chunks(py_tokenize(t), size, stride)
        assert sorted(got.get(i, [])) == sorted(want)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(TEXT.filter(lambda s: s.strip() != ""), min_size=1, max_size=5), min_size=1, max_size=4))
def test_minhash_signature_matches_python_model(spark, shingle_sets):
    """Regression: a two-parameter lambda default (``lambda s, seed=i``)
    makes PySpark bind the array INDEX to ``seed``, baking an unstable
    Column repr into the hash literal — signatures became garbage that
    differed between plan instances (caught by the incremental-dedup
    cross-batch join finding zero candidates). Pin the signature to the
    portable Python/DuckDB model."""
    import hashlib

    from gmall_flink_0526_spark.operators.dedup import HASH_PREFIX, MINHASH_K, minhash_signature

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(shingle_sets)], "i long, s array<string>"
    )
    rows = df.select("i", minhash_signature(F.col("s")).alias("mh")).orderBy("i").collect()
    for r in rows:
        want = [
            min(
                hashlib.md5(f"{seed}#{x}".encode()).hexdigest()[:HASH_PREFIX]
                for x in shingle_sets[r["i"]]
            )
            for seed in range(MINHASH_K)
        ]
        assert list(r["mh"]) == want


def test_product_stats_approx_bounded_against_exact(spark):
    """product_stats_approx is the catalog's only rows-only query (HLL
    sketches are not cross-engine reproducible), so pin it here
    instead: per brand, the HLL++ distinct-order estimate must sit
    within 10% of the exact count (default rsd 5%; small-cardinality
    groups are near-exact), and the non-sketch column must match the
    exact aggregation exactly."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark import plans
    from gmall_flink_0526_spark.session import load_tables

    from .conftest import SF_SMOKE

    approx = {
        r["p_brand"]: r
        for r in plans.queries()["product_stats_approx"](spark, SF_SMOKE).collect()
    }
    t = load_tables(spark, SF_SMOKE, "lineitem", "part")
    exact = {
        r["p_brand"]: r
        for r in (
            t["lineitem"]
            .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand")
            .agg(
                F.countDistinct("l_orderkey").alias("order_ct"),
                F.count("*").alias("line_ct"),
            )
        ).collect()
    }
    assert set(approx) == set(exact)
    for brand, a in approx.items():
        e = exact[brand]
        assert a["line_ct"] == e["line_ct"], brand
        assert abs(a["order_ct_approx"] - e["order_ct"]) <= max(2, 0.10 * e["order_ct"]), (
            brand,
            a["order_ct_approx"],
            e["order_ct"],
        )


def test_value_percentiles_approx_swap_bounded_against_exact(spark):
    """value_percentiles documents its 100 TB shape as the same query
    with approx_percentile (t-digest) in place of percentile_disc.
    Pin that swap's error contract the way product_stats_approx's HLL
    swap is pinned: per event_type, the approx estimate at quantile q
    with accuracy A must sit within the EXACT values at quantiles
    q ± 1/A (the rank-error guarantee), computed driver-side from the
    group's sorted values. Runs at sf0.1 (100k events — the bench SF,
    where the t-digest actually compresses; ADVICE r6) when present,
    else the smoke SF."""
    import math
    import os

    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.session import load_tables

    from .conftest import SF_SMOKE

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        sf_dir = SF_SMOKE
    acc = 100  # rank error <= 1/100
    ev = load_tables(spark, sf_dir, "events")["events"]
    approx = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.9, 0.99], acc).alias("aps"),
        )
        .collect()
    }
    vals = {
        r["event_type"]: sorted(r["vs"])
        for r in ev.groupBy("event_type").agg(F.collect_list("value").alias("vs")).collect()
    }
    assert set(approx) == set(vals)
    for et, row in approx.items():
        vs = vals[et]
        for q, a in zip((0.5, 0.9, 0.99), row["aps"]):
            lo_i = max(0, math.floor((q - 1.0 / acc) * (len(vs) - 1)))
            hi_i = min(len(vs) - 1, math.ceil((q + 1.0 / acc) * (len(vs) - 1)))
            assert vs[lo_i] <= a <= vs[hi_i], (et, q, a, vs[lo_i], vs[hi_i])


def test_with_cluster_join_path_matches_literal_path(spark):
    """with_cluster has two physical strategies (literal folds for
    small k, broadcast-join argmin past KM_LITERAL_MAX); the doubles
    fold in the same order on both, so assignments must be IDENTICAL —
    including ties resolving to the lowest cluster id."""
    import numpy as np

    from gmall_flink_0526_spark.operators import similarity as sim

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(200)]
    # duplicated vectors + duplicated centroids force distance ties
    rows += [(1000 + i, rows[i][1]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(c, [float(x) for x in rng.normal(0, 1, 8)]) for c in range(40)]
    cents[37] = (37, cents[3][1])  # exact tie between clusters 3 and 37
    assert len(cents) > sim.KM_LITERAL_MAX  # join path
    joined = {r["vec_id"]: r["c"] for r in sim.with_cluster(emb, "embedding", cents).collect()}
    old = sim.KM_LITERAL_MAX
    sim.KM_LITERAL_MAX = len(cents)  # force the literal path
    try:
        lit = {r["vec_id"]: r["c"] for r in sim.with_cluster(emb, "embedding", cents).collect()}
    finally:
        sim.KM_LITERAL_MAX = old
    assert joined == lit


def test_literal_sq_dists_expr_build_matches_column_build(spark):
    """r16 optimization: the literal-path distance array is parsed from
    ONE SQL string (repr(float) + the ...D double literal) instead of
    k x dim F.lit py4j calls. The parsed tree must produce bit-identical
    doubles to the Column-API build — same zip_with/aggregate fold, same
    order — or every downstream assignment and oracle hash drifts."""
    import numpy as np

    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(64)]
    # adversarial floats: shortest-repr round-trip edge cases
    rows.append((900, [0.1, -0.0, 1e-300, 1.7976931348623157e308 / 1e10] * 4))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cvs = [[float(x) for x in rng.normal(0, 1, 16)] for _ in range(9)]
    cvs.append([0.30000000000000004, -2.2250738585072014e-308, 3.0, 0.5] * 4)
    new = emb.select(
        "vec_id", sim._literal_sq_dists("embedding", cvs).alias("d")
    ).collect()
    old = emb.select(
        "vec_id",
        F.array(
            *[
                sim.sq_dist(F.col("embedding"), F.array(*[F.lit(float(x)) for x in cv]))
                for cv in cvs
            ]
        ).alias("d"),
    ).collect()
    assert {r["vec_id"]: list(r["d"]) for r in new} == {
        r["vec_id"]: list(r["d"]) for r in old
    }


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 99), st.integers(0, 9)),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 6),
)
def test_hot_bucket_split_matches_python_model(spark, rows, cap):
    """The engine's ONE hot-key form (grouped agg + hot-only broadcast,
    operators/dedup.hot_bucket_split) vs a plain-Python model on random
    (bucket_key, id, carry) tables with random caps: normal rows =
    members of <=cap buckets verbatim; every >cap bucket contributes
    exactly its m-1 (min-id rep, member) pairs with the rep's carry
    payload. Duplicate ids inside a bucket are allowed by the model
    (the band table can hold one row per (doc, band))."""
    from collections import defaultdict

    from gmall_flink_0526_spark.operators.dedup import hot_bucket_split

    df = spark.createDataFrame(rows, "bk int, doc_id int, payload int")
    normal, rep = hot_bucket_split(df, ("bk",), "doc_id", cap, carry=("payload",))

    buckets = defaultdict(list)
    for bk, doc, pay in rows:
        buckets[bk].append((doc, pay))
    exp_normal, exp_rep = [], []
    for bk, members in buckets.items():
        if len(members) <= cap:
            exp_normal += [(bk, d, p) for d, p in members]
        else:
            rd, rp = min(members)
            exp_rep += [
                (rd, d, rp, p) for d, p in members if d > rd
            ]

    assert sorted(map(tuple, normal.collect())) == sorted(exp_normal)
    got_rep = sorted(
        (r["_rep_id"], r["doc_id"], r["_rep_payload"], r["payload"])
        for r in rep.collect()
    )
    assert got_rep == sorted(exp_rep)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 99)),
        min_size=1,
        max_size=50,
    ),
    st.integers(1, 6),
)
def test_keep_cluster_reps_matches_python_model(spark, rows, cap):
    """The keep-rep flavor of the hot-key form (similarity.
    keep_cluster_reps, shared by batch incremental SemDeDup and the
    streaming app's store read) vs a plain-Python model: sub-cap
    clusters keep every row, hot clusters keep exactly their min-id
    row."""
    from collections import defaultdict

    from gmall_flink_0526_spark.operators.similarity import keep_cluster_reps

    df = spark.createDataFrame(rows, "c int, vec_id int")
    got = sorted(tuple(r) for r in keep_cluster_reps(df, cap).collect())

    clusters = defaultdict(list)
    for c, v in rows:
        clusters[c].append(v)
    exp = []
    for c, members in clusters.items():
        # a hot cluster keeps every ROW carrying the min id (the
        # generator can deal duplicate ids; the filter is by value)
        keep = (
            members
            if len(members) <= cap
            else [v for v in members if v == min(members)]
        )
        exp += [(c, v) for v in keep]
    assert got == sorted(exp)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 2), st.integers(0, 3)),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 2), st.integers(0, 3)),
        min_size=0,
        max_size=50,
    ),
    st.integers(1, 5),
)
def test_lsh_candidates_against_matches_python_model(spark, new_rows, corpus_rows, cap):
    """The incremental candidate join's corpus-side keep-rep cap vs a
    plain-Python model on synthetic band tables: candidates = new-doc
    x stored rows of each shared bucket, with a hot stored bucket
    (occupancy > cap among its rows) collapsed to its min-id row, and
    re-ingested ids never self-matching."""
    from collections import defaultdict

    from gmall_flink_0526_spark.operators.dedup import lsh_candidates_against

    new = spark.createDataFrame(new_rows, "doc_id int, band int, bk int")
    corp = spark.createDataFrame(
        corpus_rows, "doc_id int, band int, bk int"
    ) if corpus_rows else spark.createDataFrame([], "doc_id int, band int, bk int")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidates_against(new, corp, max_bucket=cap).collect()
    }

    buckets = defaultdict(list)
    for d, b, k in corpus_rows:
        buckets[(b, k)].append(d)
    exp = set()
    for d, b, k in new_rows:
        members = buckets.get((b, k), [])
        keeps = members if len(members) <= cap else [min(members)]
        exp |= {(d, m) for m in keeps if m != d}
    assert got == exp


@settings(max_examples=8, deadline=None)
@given(
    st.lists(TEXT, min_size=2, max_size=12),
    st.integers(2, 4),
)
def test_bloom_decontaminate_matches_python_model(spark, texts, eval_mod):
    """The Bloom prefilter vs a plain-Python bitset model: identical
    md5-slice positions, identical candidate set (false positives
    INCLUDED — the sketch is deterministic), identical verified
    counts. Pins the whole mechanism the oracle also re-derives, on
    adversarial tiny inputs where a hand-rolled filter usually breaks
    (empty eval side, all-eval corpus, shingle-free docs)."""
    import hashlib

    from gmall_flink_0526_spark.operators.dedup import (
        BLOOM_HASHES,
        bloom_decontaminate,
        bloom_width,
    )

    ngram = 2
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["cand_ct"], r["hit_ct"])
        for r in bloom_decontaminate(
            docs, F.col("doc_id") % eval_mod == 0, ngram=ngram
        ).collect()
    }

    def gram_hashes(text: str) -> set[str]:
        return {
            hashlib.md5(g.encode()).hexdigest()
            for g in py_shingles(py_tokenize(text), ngram)
        }

    grams = {i: gram_hashes(t) for i, t in enumerate(texts)}
    ev = {gh for i in grams if i % eval_mod == 0 for gh in grams[i]}
    bits_width = bloom_width(len(ev))

    def positions(gh: str) -> list[int]:
        return [
            int(gh[8 * i : 8 * i + 8], 16) % bits_width
            for i in range(BLOOM_HASHES)
        ]
    bits = {p for gh in ev for p in positions(gh)}
    exp = {}
    for i in grams:
        if i % eval_mod == 0:
            continue
        cand = [gh for gh in grams[i] if all(p in bits for p in positions(gh))]
        if cand:
            exp[i] = (len(cand), sum(1 for gh in cand if gh in ev))
    assert got == exp


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "e1", "ff", "g", "h2"]),
        min_size=1,
        max_size=60,
    )
)
def test_cms_matches_python_model(spark, toks):
    """cms_counters / cms_estimate vs a plain-Python grid: identical
    (row, bucket) counters, estimate = min over rows of the probed
    counter, and never under the true count — the CMS one-sided-error
    contract, on streams small enough that collisions are forced
    (width 32, 8-symbol alphabet)."""
    import hashlib
    from collections import Counter

    from gmall_flink_0526_spark.operators.aggregates import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_counters,
        cms_estimate,
    )

    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    counters = cms_counters(df, "tok")
    got_grid = {(r["i"], r["b"]): r["ct"] for r in counters.collect()}

    def bucket(t: str, i: int) -> int:
        return (
            int(hashlib.md5(f"{i}#{t}".encode()).hexdigest()[:8], 16) % CMS_WIDTH
        )

    exp_grid: Counter = Counter()
    for t in toks:
        for i in range(CMS_DEPTH):
            exp_grid[(i, bucket(t, i))] += 1
    assert got_grid == dict(exp_grid)

    est = {
        r["tok"]: r["cms_est"]
        for r in cms_estimate(df.distinct(), counters, "tok").collect()
    }
    true = Counter(toks)
    for t in true:
        model = min(exp_grid[(i, bucket(t, i))] for i in range(CMS_DEPTH))
        assert est[t] == model
        assert est[t] >= true[t]

    # out-of-corpus probes: a key the stream never saw must NOT vanish
    # from the output (a missing grid cell is a ZERO counter, the grid
    # only materializes touched cells) and must estimate its honest
    # collision floor — never the min over only the surviving cells
    novel = ["zz", "q9", "xx7"]
    probe = spark.createDataFrame(
        [(t,) for t in set(toks) | set(novel)], "tok string"
    )
    est2 = {
        r["tok"]: r["cms_est"]
        for r in cms_estimate(probe, counters, "tok").collect()
    }
    assert set(est2) == set(toks) | set(novel)
    for t in novel:
        model = min(exp_grid.get((i, bucket(t, i)), 0) for i in range(CMS_DEPTH))
        assert est2[t] == model


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    )
)
def test_hist_quantiles_match_python_model(spark, vals):
    """The histogram-quantile sketch vs a plain-Python model sharing
    the exact IEEE arithmetic (Python floats ARE doubles): same bin
    width, same clamped bin index, same ceil-rank threshold, same
    midpoint estimate — on adversarial tiny inputs (single value,
    degenerate vmin==vmax domain, heavy duplicates) where hand-rolled
    binning usually breaks. Pins the mechanism the DuckDB oracle also
    re-derives."""
    import math

    from collections import Counter

    from gmall_flink_0526_spark.operators.aggregates import (
        HIST_BINS,
        HIST_QS,
        hist_counters,
        hist_quantiles,
    )

    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "event_type string, value double"
    )
    bounds = df.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    got = {
        r["q"]: (r["n"], r["hist_q"])
        for r in hist_quantiles(
            hist_counters(df, "event_type", "value", bounds), bounds
        ).collect()
    }

    vmin, vmax, n = min(vals), max(vals), len(vals)
    w = (vmax - vmin) / HIST_BINS

    def bin_of(v: float) -> int:
        if not w > 0:
            return 0
        return max(min(int(math.floor((v - vmin) / w)), HIST_BINS - 1), 0)

    hist = Counter(bin_of(v) for v in vals)
    exp = {}
    for q, p in HIST_QS:
        rank = math.ceil(p * n)
        cum = 0
        for b in sorted(hist):
            cum += hist[b]
            if cum >= rank:
                exp[q] = (n, vmin + (b + 0.5) * w)
                break
    assert got == exp


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_temporal_enrich_matches_python_asof_model(spark, data):
    """temporal_enrich vs a plain-Python backward-inclusive as-of model
    on generated event sequences: random keys, random build/probe mix,
    builds with None values (tombstones), replayed in 3 event-time
    micro-batches — the model ignores batching entirely, so any state
    carry-over defect (lost version, tombstone skipped by an
    ignore-null carry, wrong inclusive boundary) diverges."""
    from datetime import datetime

    from gmall_flink_0526_spark.streaming.replay import replay_stateful
    from gmall_flink_0526_spark.streaming.stateful import temporal_enrich

    from .conftest import same_bucket_keys

    n = data.draw(st.integers(4, 16))
    # three keys sharing one state bucket: per-key carries must not
    # leak between keys stored side by side
    shared = same_bucket_keys(spark, 3)
    keys = data.draw(st.lists(st.sampled_from(shared), min_size=n, max_size=n))
    # builds get UNIQUE (key, ts) pairs (the pre-aggregated-ties
    # contract); probes may share any ts
    events, used = [], set()
    for i in range(n):
        is_build = data.draw(st.booleans())
        ts = data.draw(st.integers(0, 20))
        if is_build:
            if (keys[i], ts) in used:
                is_build = False  # demote to probe instead of violating
            else:
                used.add((keys[i], ts))
        if is_build:
            val = data.draw(st.one_of(st.none(), st.integers(0, 9).map(float)))
            events.append((i, ts, keys[i], "dimchange", val))
        else:
            events.append((i, ts, keys[i], "order", None))

    rows = [
        (i, datetime(2026, 1, 1, 0, 0, ts), k, typ, val)
        for i, ts, k, typ, val in events
    ]
    src = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    op = lambda s: temporal_enrich(
        s, key="user_id", ts="ts", id_col="event_id",
        build_type="dimchange", probe_type="order", val_cols=("value",),
    )
    got = {
        r["event_id"]: (r["build_ts"], r["value"])
        for r in replay_stateful(
            spark, src, op, order_by=["ts", "event_id"],
            file_of=F.expr("least(cast(second(ts) / 7 as int), 2)"),
        ).collect()
    }

    builds = {
        (k, ts): val for i, ts, k, typ, val in events if typ == "dimchange"
    }
    exp = {}
    for i, ts, k, typ, val in events:
        if typ != "order":
            continue
        cands = [(bt, bv) for (bk, bt), bv in builds.items() if bk == k and bt <= ts]
        if cands:
            bt, bv = max(cands, key=lambda c: c[0])
            exp[i] = (datetime(2026, 1, 1, 0, 0, bt), bv)
        else:
            exp[i] = (None, None)
    assert got == exp


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60))
def test_hll_matches_python_model_and_max_merges(spark, keys):
    """hll_registers / hll_estimate vs a plain-Python model sharing the
    exact arithmetic (md5 slices, hex-string rho, integer harmonic sum,
    one IEEE division), plus the family's merge law: register grids
    built from ANY split of the stream max-merge to the full grid, and
    the merge is IDEMPOTENT (self-merge changes nothing) — the property
    the epoch-store stream twin stands on. NULL keys drop."""
    import hashlib

    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators.aggregates import (
        HLL_ALPHA_NUM,
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    rows = [("g", k) for k in keys]
    df = spark.createDataFrame(rows, "g string, k long")
    regs = hll_registers(df, "g", "k")
    got = {r["j"]: r["r"] for r in regs.collect()}

    def model(ks):
        m: dict = {}
        for k in ks:
            hx = hashlib.md5(str(k).encode()).hexdigest()
            j = int(hx[:8], 16) % HLL_M
            s = hx[8:16].lstrip("0")
            if not s:
                rho = 33
            else:
                d = int(s[0], 16)
                extra = 0 if d >= 8 else 1 if d >= 4 else 2 if d >= 2 else 3
                rho = 4 * (8 - len(s)) + extra + 1
            m[j] = max(m.get(j, 0), rho)
        return m

    exp = model(keys)
    assert got == exp

    est = hll_estimate(regs, "g").collect()[0]
    s_int = sum(1 << (33 - r) for r in exp.values()) + (HLL_M - len(exp)) * (1 << 33)
    assert est["zeros"] == HLL_M - len(exp)
    assert est["hll_est"] == HLL_ALPHA_NUM / float(s_int)

    # merge law: any split max-merges to the full grid; self-merge is a
    # no-op (the one sketch where a double-written epoch is harmless)
    cut = len(rows) // 2
    h1 = spark.createDataFrame(rows[:cut], "g string, k long")
    h2 = spark.createDataFrame(rows[cut:], "g string, k long")
    merged = (
        hll_registers(h1, "g", "k")
        .unionByName(hll_registers(h2, "g", "k"))
        .unionByName(regs)  # self-merge: idempotent
        .groupBy("g", "j")
        .agg(F.max("r").alias("r"))
    )
    assert {r["j"]: r["r"] for r in merged.collect()} == exp

    # NULL keys hash to NULL and are dropped, mirrored by the oracle
    withnull = spark.createDataFrame(rows + [("g", None)], "g string, k long")
    assert {
        r["j"]: r["r"] for r in hll_registers(withnull, "g", "k").collect()
    } == exp


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sets(st.integers(0, 40), min_size=1, max_size=18),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.5, 0.6, 0.8]),
)
def test_prefix_filter_join_is_exact_vs_bruteforce(spark, sets, t):
    """prefix_filter_candidates + exact verify vs plain-Python
    brute-force all-pairs Jaccard: NO false negatives (the prefix
    principle's completeness theorem, the claim the whole operator
    stands on) and no false positives (verify is exact) — on
    adversarial tiny set families (heavy overlap, subsets, singletons,
    duplicated sets, sizes up to 18 so the float-ceil hazard class —
    IEEE 0.8 * 15 = 12.000000000000002 — is in range of the exact
    integer bounds) where an off-by-one in the prefix length or the
    size filter would show immediately. The model compares with the
    same float jaccard >= t the verify stage uses."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators.dedup import (
        jaccard_verify,
        prefix_filter_candidates,
    )

    rows = [(i, sorted(str(x) for x in s)) for i, s in enumerate(sets)]
    sh = spark.createDataFrame(rows, "doc_id long, s array<string>")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_verify(sh, prefix_filter_candidates(sh, t))
        .filter(F.col("jaccard") >= t)
        .collect()
    }

    exp = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if inter / union >= t:
                exp.add((i, j))
    assert got == exp


# -- substring-level dedup vs a brute-force Python model -----------------


def py_substring_cut(texts: list[str], L: int, min_docs: int = 2):
    """Brute force: every L-token window; windows in >= min_docs docs
    mark covered positions; per doc -> (n_tokens, n_removed, n_spans,
    kept tokens)."""
    toks = [py_tokenize(t) for t in texts]
    where: dict[str, set[int]] = {}
    for d, ts in enumerate(toks):
        for i in range(max(0, len(ts) - L + 1)):
            where.setdefault(" ".join(ts[i : i + L]), set()).add(d)
    dup = {g for g, docs in where.items() if len(docs) >= min_docs}
    out = []
    for d, ts in enumerate(toks):
        covered = set()
        for i in range(max(0, len(ts) - L + 1)):
            if " ".join(ts[i : i + L]) in dup:
                covered.update(range(i, i + L))
        spans = sum(1 for p in covered if p - 1 not in covered)
        kept = [t for i, t in enumerate(ts) if i not in covered]
        out.append((len(ts), len(covered), spans, kept))
    return out


# tiny vocab + repetition-heavy docs so cross-doc >=L-token runs occur
WORDS = st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14)


@settings(max_examples=12, deadline=None)
@given(st.lists(WORDS.map(" ".join), min_size=2, max_size=5), st.integers(2, 4))
def test_substring_cut_matches_python_model(spark, texts, L):
    import hashlib

    from gmall_flink_0526_spark.operators.dedup import substring_cut

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["n_spans"], r["cut_hash"])
        for r in substring_cut(df, "doc_id", "text", run_len=L).collect()
    }
    want = py_substring_cut(texts, L)
    assert set(got) == set(range(len(texts)))
    for d, (n_tok, n_rm, n_sp, kept) in enumerate(want):
        khash = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert got[d] == (n_tok, n_rm, n_sp, khash), (
            d, texts[d], got[d], (n_tok, n_rm, n_sp, khash)
        )


@settings(max_examples=10, deadline=None)
@given(st.lists(WORDS.map(" ".join), min_size=2, max_size=5), st.integers(2, 3))
def test_substring_coverage_monotone_in_run_length(spark, texts, L):
    """Coverage at 2L is a SUBSET of coverage at L (substring_dedup_l16's
    stated contract): every token inside a cross-doc duplicated run of
    length >= 2L also lies inside a duplicated run of length >= L, so
    raising the run length only ever removes LESS — n_removed(2L) <=
    n_removed(L) per doc, and the tokens kept at L are kept at 2L.
    Pinned against the Python model at both lengths (the Spark
    operator itself is pinned to the model above)."""
    want_s = py_substring_cut(texts, L)
    want_l = py_substring_cut(texts, 2 * L)
    for (n_tok_s, n_rm_s, _, kept_s), (n_tok_l, n_rm_l, _, kept_l) in zip(
        want_s, want_l
    ):
        assert n_tok_s == n_tok_l
        assert n_rm_l <= n_rm_s
        # kept-at-L is a subsequence of kept-at-2L (coverage shrinks)
        it = iter(kept_l)
        assert all(tok in it for tok in kept_s) or kept_s == []
        # and the Spark operator agrees at the doubled length too
    from gmall_flink_0526_spark.operators.dedup import substring_cut

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"])
        for r in substring_cut(df, "doc_id", "text", run_len=2 * L).collect()
    }
    for d, (n_tok, n_rm, _, _) in enumerate(want_l):
        assert got[d] == (n_tok, n_rm)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sets(st.integers(0, 40), min_size=1, max_size=18),
        min_size=2,
        max_size=10,
    ),
    st.sampled_from([0.5, 0.6, 0.8]),
)
def test_incremental_hash_prefix_discovery_is_exact(spark, sets, t):
    """The incremental similarity-graph discovery rule vs brute force:
    docs arrive in two epochs (even/odd ids — id order independent of
    arrival order), each epoch's candidates are
    prefix_filter_candidates_against(batch prefixes, all prefixes so
    far) under the CONTENT-DEFINED hash order (prefixes computed once
    at arrival, never recomputed), verified exactly; the union over
    epochs must equal the full-corpus brute-force threshold join — the
    completeness theorem under a stable order, which is the claim the
    streaming similarity-graph app (and doc_pagerank_stream's shared
    batch oracle) stands on."""
    from pyspark.sql import functions as F

    from gmall_flink_0526_spark.operators.dedup import (
        jaccard_verify,
        prefix_filter_candidates_against,
        prefix_rows,
    )

    rows = [(i, sorted(str(x) for x in s)) for i, s in enumerate(sets)]
    got = set()
    seen_rows: list = []
    for ep in (0, 1):
        batch_rows = [r for r in rows if r[0] % 2 == ep]
        if not batch_rows:
            continue
        seen_rows = seen_rows + batch_rows
        bsh = spark.createDataFrame(batch_rows, "doc_id long, s array<string>")
        allsh = spark.createDataFrame(seen_rows, "doc_id long, s array<string>")
        cand = prefix_filter_candidates_against(
            prefix_rows(bsh, t, order="hash"),
            prefix_rows(allsh, t, order="hash"),
            t,
        )
        got |= {
            (r["doc_a"], r["doc_b"])
            for r in jaccard_verify(allsh, cand)
            .filter(F.col("jaccard") >= t)
            .collect()
        }

    exp = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if inter / union >= t:
                exp.add((i, j))
    assert got == exp


# -- bigram-LM scoring vs a plain-Python model ---------------------------


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXT, min_size=1, max_size=6))
def test_lm_scores_match_python_model(spark, texts):
    """operators/lm.py vs the direct Python derivation: add-one
    smoothed bigram counts, scaled-integer surprisal (floor division),
    mean-inverse-probability score — exact arithmetic end to end, so
    the comparison is == on the integers and on the one final double."""
    from gmall_flink_0526_spark.operators import lm
    from gmall_flink_0526_spark.operators.textops import with_tokens

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    staged = with_tokens(df)
    grams = lm.doc_bigrams(staged)
    model = lm.bigram_model(grams, lm.vocab_size(staged))
    got = {
        r["doc_id"]: (r["n_grams"], r["lm_score"])
        for r in lm.doc_lm_scores(grams, model).collect()
    }

    toks = {i: py_tokenize(t) for i, t in enumerate(texts)}
    bigrams = {i: py_shingles(t, 2) for i, t in toks.items()}
    all_bg = [g for gs in bigrams.values() for g in gs]
    vocab = {w for t in toks.values() for w in t}
    c2: dict[str, int] = {}
    c1: dict[str, int] = {}
    for g in all_bg:
        c2[g] = c2.get(g, 0) + 1
        w1 = g.split(" ")[0]
        c1[w1] = c1.get(w1, 0) + 1
    exp = {}
    for i, gs in bigrams.items():
        if not gs:
            continue
        s_sum = sum(
            ((c1[g.split(" ")[0]] + len(vocab)) * lm.LM_SCALE) // (c2[g] + 1)
            for g in gs
        )
        exp[i] = (len(gs), float(s_sum) / float(len(gs) * lm.LM_SCALE))
    assert got == exp


def test_pq_fit_multi_matches_standalone_fits(spark):
    """The joint Lloyd pass (r13 VERDICT #6 setup consolidation) must
    return codebooks bit-identical to each source's standalone
    pq_fit — the source tag partitions every stage, so certified PQ /
    IVF-PQ oracle values cannot move."""
    from gmall_flink_0526_spark.operators import similarity as S

    import random

    rng = random.Random(7)
    dim, m, ks = 8, 2, 4
    a = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    joint = S.pq_fit_multi({"a": a, "b": b}, dim, m=m, ks=ks, iters=2, fit_limit=32)
    assert joint["a"] == S.pq_fit(a, dim, m=m, ks=ks, iters=2, fit_limit=32)
    assert joint["b"] == S.pq_fit(b, dim, m=m, ks=ks, iters=2, fit_limit=32)

    # an EMPTY source must stay in the returned dict with an empty
    # codebook (the single-source pq_fit contract for empty input) —
    # not silently drop out and make fits["flat"] raise KeyError
    # (ADVICE r14)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    j2 = S.pq_fit_multi({"a": a, "none": empty}, dim, m=m, ks=ks, iters=2, fit_limit=32)
    assert j2["none"] == []
    assert j2["a"] == joint["a"]


def test_bigram_model_overflow_guard_raises(spark):
    """SURPRISAL_GUARDED_EXPR must fail loudly when the global prefix
    count would overflow the BIGINT carrier (ADVICE r13: the old
    comment claimed the bound was per-partition; it is global)."""
    import pytest

    from gmall_flink_0526_spark.operators import lm

    # forge a model row whose c1 sits past the carrier bound
    bad = spark.createDataFrame(
        [("a b", "a", 3, lm.LM_C1_LIMIT + 1, 5)],
        "g string, w1 string, c2 long, c1 long, v long",
    )
    with pytest.raises(Exception, match="overflow|exceeds"):
        bad.withColumn("s", F.expr(lm.SURPRISAL_GUARDED_EXPR)).collect()
    # ...and stays bit-identical to the raw formula in range
    ok = spark.createDataFrame(
        [("a b", "a", 3, 17, 5)], "g string, w1 string, c2 long, c1 long, v long"
    )
    got = ok.withColumn("s", F.expr(lm.SURPRISAL_GUARDED_EXPR)).collect()[0]["s"]
    raw = ok.withColumn("s", F.expr(lm.SURPRISAL_EXPR)).collect()[0]["s"]
    assert got == raw == ((17 + 5) * lm.LM_SCALE) // (3 + 1)


def test_label_propagation_rejects_string_node_ids(spark):
    """Non-numeric node ids must raise (the -lab tie-break would
    silently NULL under non-ANSI casts) — ADVICE r13."""
    import pytest

    from gmall_flink_0526_spark.operators.graph import label_propagation

    nodes = spark.createDataFrame([("x",), ("y",)], "node string")
    edges = spark.createDataFrame([("x", "y", 1.0)], "src string, dst string, w double")
    with pytest.raises(ValueError, match="numeric"):
        label_propagation(nodes, edges, iters=1)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from([1, -1]),
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_perceptron_fit_matches_python_model(spark, rows):
    """The batch-perceptron loop (operators/classifier.perceptron_fit)
    vs a plain-Python synchronous-update model: identical iterate
    ladders — weights AND misclassified counts — on arbitrary integer
    feature sets (the exactness claim the chained-CTE oracle rests
    on)."""
    from gmall_flink_0526_spark.operators.classifier import perceptron_fit

    feats = spark.createDataFrame(
        [(y, 1000, x1, x2, x3) for (y, x1, x2, x3) in rows],
        "y long, x0 long, x1 long, x2 long, x3 long",
    )
    got = perceptron_fit(feats, iters=3)

    w = [0, 0, 0, 0]
    exp = []
    for it in range(1, 4):
        mis = [
            (y, (1000, x1, x2, x3))
            for (y, x1, x2, x3) in rows
            if y * sum(wj * xj for wj, xj in zip(w, (1000, x1, x2, x3))) <= 0
        ]
        for j in range(4):
            w[j] += sum(y * x[j] for y, x in mis)
        exp.append((it, w[0], w[1], w[2], w[3], len(mis)))
    assert got == exp
