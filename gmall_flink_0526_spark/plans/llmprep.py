"""Training-data preparation queries — the dataset-engineering surface
a 100 TB LLM pipeline runs on top of the text/dedup operators:

- content-addressed train/val/test split (dup-safe by construction),
- fixed-window context chunking with stride,
- benchmark decontamination (n-gram overlap vs an eval set),
- SimHash near-dup *pairs* (banded candidate join + Hamming verify),
- sequence packing (sharded concat-then-chunk training offsets),
- PII scrubbing (portable-regex redaction, digest-verified),
- repetition-based quality signals (distinct token/2-gram/mode share).

Every query is a pure DataFrame plan over ``documents`` with a DuckDB
oracle that re-derives the identical result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..operators import dedup as D, textops
from ..operators.cache import scoped_persist
from ..operators.partitioning import bounded_broadcast, spread
from ..session import load_tables
from .catalog import register, register_setup
from .dedup import (
    SQL_LSH_BANDS,
    SQL_SHEX,
    SQL_SHINGLES3,
    corpus_band_keys,
    corpus_shingles,
    shingle_many_doc_cov,
    sql_shingle_cov,
)
from .text import SQL_TOKS, sql_hex_val as _sql_hex_val

# hex nibble -> int, the DuckDB twin of Spark's conv(hex, 16, 10)
def _sql_hex4(expr: str) -> str:
    """First 4 hex chars of an md5 hex string as an integer."""
    nib = "(strpos('0123456789abcdef', substr({e}, {i}, 1)) - 1)"
    return " + ".join(
        f"{nib.format(e=expr, i=i + 1)} * {16 ** (3 - i)}" for i in range(4)
    )


TRAIN_PCT, VAL_PCT = 90, 5


@register(
    "dataset_split",
    oracle=f"""
    WITH b AS (
      SELECT CAST(({_sql_hex4('md5(text)')}) % {textops.SPLIT_BUCKETS} AS INTEGER) AS bucket,
             len({SQL_TOKS}) AS n_toks
      FROM documents
    )
    SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS doc_ct,
           CAST(SUM(n_toks) AS BIGINT) AS tok_sum
    FROM b
    GROUP BY 1
    """,
    doc="Deterministic train/val/test split: bucket = md5(text) mod "
    "100, hashed on CONTENT so byte-identical duplicates land in the "
    "same split (no train/val leakage through dups). One map-side "
    "expression + one groupBy — scales trivially; the split column "
    "would be the partition key of the output layout.",
    tags=("llm-prep", "split"),
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    staged = textops.with_tokens(t["documents"])
    return (
        staged.select(
            textops.split_name(textops.split_bucket(F.col("text")), TRAIN_PCT, VAL_PCT).alias(
                "split"
            ),
            F.size("toks").alias("n_toks"),
        )
        .groupBy("split")
        .agg(F.count("*").alias("doc_ct"), F.sum("n_toks").cast("long").alias("tok_sum"))
    )


CHUNK_TOKENS, CHUNK_STRIDE = 128, 96


@register(
    "doc_chunking",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    expanded AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, {CHUNK_STRIDE})) AS s
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST((s - 1) / {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           len(list_slice(t, s, s + {CHUNK_TOKENS - 1})) AS n_tokens,
           md5(array_to_string(list_slice(t, s, s + {CHUNK_TOKENS - 1}), ' ')) AS chunk_digest
    FROM expanded
    """,
    doc=f"Context-window chunking: {CHUNK_TOKENS}-token windows every "
    f"{CHUNK_STRIDE} tokens (overlap {CHUNK_TOKENS - CHUNK_STRIDE}) — "
    "the LLM pre-training prep step. Tokens staged once per row, "
    "window fan-out via sequence+transform+explode, all inside "
    "whole-stage codegen; row fan-out is bounded by doc length / "
    "stride.",
    tags=("llm-prep", "chunking"),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    return textops.chunk_docs(
        spread(t["documents"], "doc_id"),
        chunk_tokens=CHUNK_TOKENS,
        stride=CHUNK_STRIDE,
    )


# Exact-decontamination knobs, tuned (r10) so the certified surface is
# non-trivial at the correctness SFs: the synthetic corpus carries 500
# docs at both sf0.001 and sf0.01, and a 1% eval slice (% 97) sharing
# EXACT 5-grams matched ~1 training doc — weak evidence by the round
# rules. 4-gram shingles with a % 7 eval slice flag ~93 training docs
# at both SFs (measured via the oracle), a real funnel stage, while
# the operator shape (hash-keyed equi-join, bloom prefilter, width
# derivation) is n-gram- and eval-size-independent. Production callers
# pass their own benchmark predicate and n-gram length.
DECON_NGRAM = 4
EVAL_MOD = 7


@register(
    "decontaminate",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= {DECON_NGRAM}
                  THEN list_transform(range(1, len(t) - {DECON_NGRAM - 2}),
                       i -> array_to_string(list_slice(t, i, i + {DECON_NGRAM - 1}), ' '))
                  ELSE [] END) AS s
      FROM toks
    ),
    train_g AS (
      SELECT doc_id, md5(unnest(s)) AS gh FROM sh WHERE doc_id % {EVAL_MOD} != 0
    ),
    eval_g AS (
      SELECT DISTINCT md5(unnest(s)) AS gh FROM sh WHERE doc_id % {EVAL_MOD} = 0
    )
    SELECT doc_id, COUNT(*) AS hit_ct
    FROM train_g JOIN eval_g USING (gh)
    GROUP BY doc_id
    """,
    doc=f"Benchmark decontamination: flag training docs sharing any "
    f"{DECON_NGRAM}-token shingle with the eval set (here doc_id % "
    f"{EVAL_MOD} == 0 plays the benchmark). Both sides reduce to "
    "(id, shingle-md5) and meet in ONE equi-join on the hash — "
    "bucketed like LSH candidates, never doc-vs-doc; the eval side is "
    "distinct'd and broadcast-sized in practice.",
    tags=("llm-prep", "dedup", "decontamination"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    return D.contaminated_docs(
        t["documents"], F.col("doc_id") % EVAL_MOD == 0, ngram=DECON_NGRAM,
        grams=corpus_decon_grams(spark, sf_dir),
    )


def corpus_decon_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, gh): the corpus's DECON_NGRAM gram-hash table,
    corpus-scoped like the MinHash signature tables (r16 optimization):
    five catalog consumers (decontaminate, decontaminate_bloom and its
    streaming twin's screen, corpus_build's decon gate,
    decon_method_agreement) each re-ran the tokenize + shingle +
    explode + md5 pass per query — a production pipeline materializes
    this index once next to its LSH signatures and every decon job is
    a join against it."""
    from ..operators.cache import corpus_persist, scoped_persist

    def build() -> DataFrame:
        docs = load_tables(spark, sf_dir, "documents")["documents"]
        # the shingle frame MUST materialize before the explode:
        # Catalyst collapses the staged projections back together, and
        # the shingle lambda then re-evaluates its inlined tokenize PER
        # ELEMENT (textops.tokenize's lambda-inlining note — measured
        # 34 s vs 3 s for this build at sf0.1). The persist is scoped:
        # drained when the next catalog query starts, by which time the
        # memo table itself is materialized.
        sh = scoped_persist(D.doc_shingles(docs, "doc_id", "text", ngram=DECON_NGRAM))
        return sh.select("doc_id", F.explode("s").alias("g")).select(
            "doc_id", F.md5("g").alias("gh")
        )

    return corpus_persist(spark, f"decon_grams:{DECON_NGRAM}", sf_dir, build)


def _sql_bloom_pos(i: int) -> str:
    """DuckDB twin of operators.dedup._bloom_positions: the i-th
    8-hex-char md5 slice as an integer, mod the (adaptive) filter
    width from the ``msize`` CTE."""
    return (
        f"(({_sql_hex_val(f'substr(gh, {1 + 8 * i}, 8)', 8)}) % (SELECT m FROM msize))"
    )


_SQL_BLOOM_PROBE = (
    "b{i}.w = t.p{i} // {word} AND "
    "(b{i}.bits & (CAST(1 AS BIGINT) << CAST(t.p{i} % {word} AS INTEGER))) != 0"
)


def sql_decontaminate_bloom() -> str:
    """The Bloom-decontamination audit as DuckDB SQL — shared verbatim
    by `decontaminate_bloom` (filter built in-query) and the streaming
    replay `decontaminate_bloom_stream` (filter OR-merged from the
    epoch store): a fixed-width Bloom filter is or-mergeable, so both
    build paths produce the same bitset and the same candidate set."""
    return f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= {DECON_NGRAM}
                  THEN list_transform(range(1, len(t) - {DECON_NGRAM - 2}),
                       i -> array_to_string(list_slice(t, i, i + {DECON_NGRAM - 1}), ' '))
                  ELSE [] END) AS s
      FROM toks
    ),
    grams AS (SELECT doc_id, md5(unnest(s)) AS gh FROM sh),
    ev AS (SELECT DISTINCT gh FROM grams WHERE doc_id % {EVAL_MOD} = 0),
    msize AS (
      -- operators.dedup.bloom_width: next pow2 >= LOAD bits/gram,
      -- floored — integer bit-length arithmetic, no libm
      SELECT CASE WHEN cnt <= 0 THEN {1 << D.BLOOM_BITS_MIN_LOG2}
                  ELSE (1 << GREATEST({D.BLOOM_BITS_MIN_LOG2},
                            length(format('{{:b}}', {D.BLOOM_LOAD} * cnt - 1))))
             END AS m
      FROM (SELECT COUNT(*) AS cnt FROM ev)
    ),
    evpos AS (
      SELECT unnest([{_sql_bloom_pos(0)}, {_sql_bloom_pos(1)}, {_sql_bloom_pos(2)}]) AS p
      FROM ev
    ),
    bloom AS (
      SELECT p // {D.BLOOM_WORD} AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {D.BLOOM_WORD} AS INTEGER)) AS bits
      FROM evpos GROUP BY 1
    ),
    train AS (
      SELECT doc_id, gh,
             {_sql_bloom_pos(0)} AS p0, {_sql_bloom_pos(1)} AS p1, {_sql_bloom_pos(2)} AS p2
      FROM grams WHERE doc_id % {EVAL_MOD} != 0
    ),
    cand AS (
      SELECT t.doc_id, t.gh
      FROM train t
      JOIN bloom b0 ON {_SQL_BLOOM_PROBE.format(i=0, word=D.BLOOM_WORD)}
      JOIN bloom b1 ON {_SQL_BLOOM_PROBE.format(i=1, word=D.BLOOM_WORD)}
      JOIN bloom b2 ON {_SQL_BLOOM_PROBE.format(i=2, word=D.BLOOM_WORD)}
    )
    SELECT c.doc_id, COUNT(*) AS cand_ct, COUNT(e.gh) AS hit_ct
    FROM cand c LEFT JOIN ev e ON e.gh = c.gh
    GROUP BY c.doc_id
    """


@register(
    "decontaminate_bloom",
    oracle=sql_decontaminate_bloom(),
    doc=f"Bloom-prefiltered decontamination: the eval set's {DECON_NGRAM}-gram "
    "hashes collapse into a packed Bloom bitset whose width SCALES "
    f"with the eval side ({D.BLOOM_LOAD} bits per eval gram, next "
    f"pow2, 2^{D.BLOOM_BITS_MIN_LOG2} floor — ~2 MB per million eval "
    "grams, tiny next to the corpus, and the per-gram false-positive "
    "rate stays ~1e-3 at every scale instead of saturating); train "
    f"shingles are screened map-side through {D.BLOOM_HASHES} "
    "broadcast word-probes and only bloom-positive shingles (true "
    "hits + deterministic false positives) reach the exact "
    "verification join — the 100 TB shape where `decontaminate`'s "
    "corpus-wide shingle shuffle becomes the bottleneck. Output is "
    "EXACT per-doc (cand_ct, hit_ct); cand_ct - hit_ct is the "
    "false-positive overhead actually paid. All hashing is md5-slice "
    "arithmetic and the width derivation is integer bit-length math, "
    "so the oracle re-derives the identical bitset and candidate set "
    "bit-for-bit (the SemDeDup corpus-scaled-k precedent, applied to "
    "a sketch).",
    tags=("llm-prep", "dedup", "decontamination", "sketch"),
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    return D.bloom_decontaminate(
        t["documents"],
        F.col("doc_id") % EVAL_MOD == 0,
        ngram=DECON_NGRAM,
        bits=decon_bloom_bits(spark, sf_dir),
        grams=corpus_decon_grams(spark, sf_dir),
    )


def decon_bloom_bits(spark: SparkSession, sf_dir: str) -> int:
    """The corpus's memoized Bloom width for the synthetic eval slice —
    eval docs only feed the derivation (predicate pushed to the scan),
    memoized per corpus; the count is the operator's own
    eval_gram_count, so the memoized width can never drift from the
    width the operator would self-derive. Shared by the batch query
    and the streaming replay so both provision the SAME fixed width —
    the or-mergeability precondition."""
    from ..operators.cache import corpus_value

    def _bits() -> int:
        # derive the eval-gram count from the shared gram index instead
        # of re-shingling the eval slice (r16 deferral #5): the index
        # rows are exactly each doc's DISTINCT gram hashes, so
        # countDistinct(gh) over the eval docs IS eval_gram_count —
        # value-identity is pinned in tests/test_plans.py. Setup order
        # is pinned too: the decon_gram_index setup registers BEFORE
        # decon_bloom_width, so the index build cost rides its own
        # ledger line.
        gi = corpus_decon_grams(spark, sf_dir)
        cnt = (
            gi.filter(F.col("doc_id") % EVAL_MOD == 0)
            .agg(F.countDistinct("gh"))
            .collect()[0][0]
        )
        return D.bloom_width(int(cnt))

    return corpus_value(
        spark, f"decon_bloom_bits:{DECON_NGRAM}:{EVAL_MOD}", sf_dir, _bits
    )


# Fuzzy decontamination verify threshold: ~10% token mutation of a
# benchmark doc kills ~30% of its 3-shingles, leaving Jaccard ~0.55 —
# the exact-shingle `decontaminate` still FLAGS such a doc (any one
# surviving shingle hits) but cannot say it is a whole-document
# near-copy; this query does. 0.5 matches the engine-wide near-dup
# threshold so "contaminated" and "near-duplicate" mean the same
# similarity everywhere.
DECON_FUZZY_T = 0.5
# The fuzzy query plays its own synthetic benchmark slice (doc_id %
# 11, disjoint-ish from the exact family's % 7): near-match
# contamination needs a mutated twin to land across the train/eval
# boundary, and at the 500-doc correctness SFs a thin eval set leaves
# the verified surface empty — % 11 keeps real hits at every test
# scale. The shape is eval-set-size independent either way.
EVAL_MOD_FUZZY = 11


def sql_fuzzy_chain(eval_mod: int) -> str:
    """The fuzzy-decontamination CTE chain (bands -> capped eval side
    -> candidates -> exact-Jaccard verify) with the eval split as a
    parameter — ONE text shared by decontaminate_fuzzy's oracle
    (mod 11) and the cross-method agreement oracle (the family's
    shared mod 7), so the two cannot drift. Assumes SQL_SHINGLES3 +
    SQL_LSH_BANDS precede it in the WITH list."""
    return f"""
    ev AS (SELECT * FROM bands WHERE doc_id % {eval_mod} = 0),
    evstat AS (
      SELECT b, bk, COUNT(*) AS c, MIN(doc_id) AS rep FROM ev GROUP BY b, bk
    ),
    evk AS (
      SELECT ev.* FROM ev JOIN evstat USING (b, bk)
      WHERE evstat.c <= {D.MAX_BUCKET} OR ev.doc_id = evstat.rep
    ),
    cand AS (
      SELECT DISTINCT tr.doc_id AS doc_a, evk.doc_id AS doc_b
      FROM bands tr JOIN evk USING (b, bk)
      WHERE tr.doc_id % {eval_mod} != 0
    ),
    ver AS (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      FROM cand JOIN sh a ON cand.doc_a = a.doc_id
                JOIN sh b ON cand.doc_b = b.doc_id
    )"""


@register(
    "decontaminate_fuzzy",
    oracle=f"""
    WITH {SQL_SHINGLES3},
    {SQL_LSH_BANDS.strip().strip(',')},
    {sql_fuzzy_chain(EVAL_MOD_FUZZY).strip()}
    SELECT doc_a AS doc_id, COUNT(*) AS eval_hits,
           MAX(jaccard) AS max_jaccard, MIN(doc_b) AS first_eval_id
    FROM ver WHERE jaccard >= {DECON_FUZZY_T} GROUP BY doc_a
    """,
    doc=f"NEAR-match benchmark decontamination: training docs whose "
    f"whole-document Jaccard vs some eval doc (doc_id % {EVAL_MOD_FUZZY} == 0 "
    "plays the benchmark) reaches the engine's near-dup threshold — "
    "catches lightly-EDITED eval contamination that survives paraphrase "
    "of any individual n-gram, where the exact-shingle `decontaminate` "
    "only counts surviving shingles. Shape: the corpus-scoped band-key "
    "table filtered both ways, eval side BROADCAST — a bounded "
    "benchmark-sized eval set is this query's CONTRACT (like "
    "dedup_incremental's bounded micro-batch); the % stand-in plays "
    "that role at test scale but itself grows with the corpus, so a "
    "production caller supplies the real fixed benchmark, and an eval "
    "set past the broadcast bound means dropping the hint for a "
    "shuffled equi-join of the same shape. Broadcast, the candidate "
    "join is map-side against "
    "the train side's incoming partitioning — cost is train x "
    "per-bucket eval overlap, linear in the corpus, with the eval side "
    "keep-rep capped per bucket (agg + hot-only broadcast, the "
    "engine's one hot-key form) so a boilerplate bucket shared by "
    "both sides cannot go train x eval-block quadratic. Verification "
    "is exact Jaccard on candidates only, never doc x eval.",
    tags=("llm-prep", "dedup", "decontamination"),
)
def decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fuzzy_contaminated(spark, sf_dir, EVAL_MOD_FUZZY)


def fuzzy_contaminated(spark: SparkSession, sf_dir: str, eval_mod: int) -> DataFrame:
    """decontaminate_fuzzy's whole pipeline with the eval split as a
    PARAMETER — the certified query keeps its mod-11 split; the
    cross-method agreement audit re-runs the identical machinery on
    the family's shared mod-7 split (the substring_dedup_l16
    parameterization precedent)."""
    sh = corpus_shingles(spark, sf_dir)
    bands = corpus_band_keys(spark, sf_dir)
    is_eval = F.col("doc_id") % eval_mod == 0
    ev = bands.filter(is_eval)
    st = ev.groupBy("band", "bk").agg(
        F.count("*").alias("_c"), F.min("doc_id").alias("_rep")
    )
    hot = st.filter(F.col("_c") > D.MAX_BUCKET).select("band", "bk", "_rep")
    ev = (
        ev.join(bounded_broadcast(hot, what="eval hot-bucket stats"), ["band", "bk"], "left")
        .filter(F.col("_rep").isNull() | (F.col("doc_id") == F.col("_rep")))
        .drop("_rep")
    )
    # the docstring's bounded-benchmark contract, enforced at runtime:
    # past the row guard (an eval side that grew with the corpus, like
    # the % stand-in at scale) the hint is dropped with a warning and
    # the candidate join shuffles — same shape, no 8 GB broadcast wall
    cand = (
        bands.filter(~is_eval)
        .join(
            bounded_broadcast(
                ev.select("band", "bk", F.col("doc_id").alias("_ev")),
                what="eval band-key table",
            ),
            ["band", "bk"],
        )
        .select(F.col("doc_id").alias("doc_a"), F.col("_ev").alias("doc_b"))
        .distinct()
    )
    hits = D.jaccard_verify(sh, cand).filter(F.col("jaccard") >= DECON_FUZZY_T)
    return hits.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("eval_hits"),
        F.max("jaccard").alias("max_jaccard"),
        F.min("doc_b").alias("first_eval_id"),
    )


@register(
    "decon_eval_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= {DECON_NGRAM}
                  THEN list_transform(range(1, len(t) - {DECON_NGRAM - 2}),
                       i -> array_to_string(list_slice(t, i, i + {DECON_NGRAM - 1}), ' '))
                  ELSE [] END) AS s
      FROM toks
    ),
    train_spread AS (
      SELECT gh, COUNT(DISTINCT doc_id) AS thit
      FROM (SELECT doc_id, md5(unnest(s)) AS gh FROM sh
            WHERE doc_id % {EVAL_MOD_FUZZY} != 0)
      GROUP BY gh
    ),
    eval_g AS (
      SELECT doc_id AS eval_id, len(s) AS n_grams, md5(unnest(s)) AS gh
      FROM sh WHERE doc_id % {EVAL_MOD_FUZZY} = 0 AND len(s) > 0
    )
    SELECT eval_id,
           MIN(n_grams) AS n_grams,
           CAST(COUNT(thit) AS BIGINT) AS shared_grams,
           CAST(COUNT(thit) AS DOUBLE) / MIN(n_grams) AS contamination_cov,
           CAST(COALESCE(SUM(thit), 0) AS BIGINT) AS gram_hits,
           CAST(COALESCE(MAX(thit), 0) AS BIGINT) AS max_gram_spread
    FROM eval_g LEFT JOIN train_spread USING (gh)
    GROUP BY eval_id
    """,
    doc=f"The eval-owner's side of decontamination — per BENCHMARK doc, "
    f"how much of it leaks into the training corpus: the fraction of "
    f"its distinct {DECON_NGRAM}-gram shingles found in any training "
    f"doc (contamination_cov), the total (gram, train-doc) incidence "
    f"mass, and the worst single gram's training spread. decontaminate "
    f"answers 'which training docs must go'; this answers 'which eval "
    f"items are still trustworthy' — and it is deliberately PAIR-FREE: "
    f"train grams collapse to per-gram spread counts in a grouped agg "
    f"(map-side partial) BEFORE the eval join, so a boilerplate gram "
    f"shared by a million training docs costs one row, never an "
    f"eval x train fan-out. Uses the dense synthetic benchmark "
    f"(doc_id % {EVAL_MOD_FUZZY}, the decontaminate_fuzzy precedent) "
    f"so the report has rows at every test scale.",
    tags=("llm-prep", "decontamination", "audit"),
)
def decon_eval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ride the shared gram index instead of self-shingling (r16
    # deferral #4): its rows are each doc's DISTINCT gram hashes, so
    # per-doc COUNT(*) IS len(s) (n_grams) — no per-row n_grams payload
    # through the join, and the last decon-family shingle pass is gone.
    # Zero-gram docs have no index rows and are absent from the output
    # on both paths (the oracle's len(s) > 0 filter).
    gi = corpus_decon_grams(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD_FUZZY == 0
    train_spread = (
        gi.filter(~is_eval)
        .groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("thit"))
    )
    eval_g = gi.filter(is_eval).select(F.col("doc_id").alias("eval_id"), "gh")
    return (
        eval_g.join(train_spread, "gh", "left")
        .groupBy("eval_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("thit").alias("shared_grams"),
            (F.count("thit").cast("double") / F.count("*")).alias("contamination_cov"),
            F.coalesce(F.sum("thit"), F.lit(0)).cast("long").alias("gram_hits"),
            F.coalesce(F.max("thit"), F.lit(0)).cast("long").alias("max_gram_spread"),
        )
    )


PAIR_BITS = 32  # 16-bit fingerprints collide too much for pairing


@register(
    "simhash_near_dup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents
    ), h AS (
      SELECT doc_id,
             {_sql_hex_val('md5(tok)', PAIR_BITS // 4)} AS hv
      FROM toks
    ), votes AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, (SELECT unnest(range(0, {PAIR_BITS})) AS j) jj
      GROUP BY doc_id, j
    ), fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ), banded AS (
      SELECT doc_id, simhash, b, (simhash >> (b * {PAIR_BITS // 4})) & {(1 << (PAIR_BITS // 4)) - 1} AS bv
      FROM fp, (SELECT unnest(range(0, 4)) AS b) bb
    ), bstat AS (
      SELECT b, bv, COUNT(*) AS bct, MIN(doc_id) AS rep,
             arg_min(simhash, doc_id) AS rep_sh
      FROM banded GROUP BY b, bv
    ), cand AS (
      SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
             a.simhash AS sa, c.simhash AS sb
      FROM banded a
      JOIN bstat ON a.b = bstat.b AND a.bv = bstat.bv
                AND bstat.bct <= {D.MAX_BUCKET}
      JOIN banded c
        ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
      UNION
      SELECT t.rep AS doc_a, banded.doc_id AS doc_b,
             t.rep_sh AS sa, banded.simhash AS sb
      FROM banded JOIN bstat t ON banded.b = t.b AND banded.bv = t.bv
      WHERE t.bct > {D.MAX_BUCKET} AND banded.doc_id > t.rep
    )
    SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    """,
    doc=f"SimHash near-dup PAIRS (the detection half simhash_fingerprint "
    f"leaves open): {PAIR_BITS}-bit fingerprints split into 4 8-bit "
    "bands; pigeonhole guarantees pairs within Hamming 3 share a band, "
    "so candidates = equi-join on (band, value) — the multi-index "
    "SimHash recipe, never all-pairs — then popcount(xor) verifies "
    "exactly.",
    tags=("llm-prep", "dedup", "simhash"),
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    fp = D.simhash(t["documents"], "doc_id", "text", bits=PAIR_BITS)
    return D.simhash_near_dup_pairs(fp, bits=PAIR_BITS, max_hamming=3, bands=4)


# -- sequence packing ---------------------------------------------------

PACK_CAP = 256  # tokens per training sequence
PACK_SHARD_HEX = 2  # first N hex chars of md5(text) -> 256 shards


@register(
    "sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, md5(text) AS digest,
             CAST(({_sql_hex_val('md5(text)', PACK_SHARD_HEX)}) AS INTEGER) AS shard,
             len({SQL_TOKS}) AS n_toks
      FROM documents
    ), packed AS (
      SELECT doc_id, shard, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (
                    PARTITION BY shard ORDER BY digest, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_off
      FROM d WHERE n_toks > 0
    )
    SELECT doc_id, shard, start_off, n_toks,
           start_off // {PACK_CAP} AS seq_first,
           (start_off + n_toks - 1) // {PACK_CAP} AS seq_last
    FROM packed
    """,
    doc=f"Sequence packing for pre-training: concatenate documents and "
    f"cut fixed {PACK_CAP}-token training sequences. Docs are sharded "
    f"by content digest ({16 ** PACK_SHARD_HEX} shards) and packed "
    "contiguously within a shard in digest order — a running-sum "
    "window PARTITIONED BY shard, so no global single-partition sort "
    "ever exists; each doc learns its byte-offset and the first/last "
    "sequence it lands in (docs spanning a boundary are split, the "
    "GPT-style concat-then-chunk policy).",
    tags=("llm-prep", "packing"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    d0 = spread(t["documents"], "doc_id").select(
        "doc_id",
        F.md5("text").alias("digest"),
        F.size(textops.tokenize(F.col("text"))).cast("long").alias("n_toks"),
    )
    d1 = d0.filter(F.col("n_toks") > 0).withColumn(
        "shard", F.conv(F.substring("digest", 1, PACK_SHARD_HEX), 16, 10).cast("int")
    )
    w = (
        W.partitionBy("shard")
        .orderBy("digest", "doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = d1.withColumn(
        "start_off", F.coalesce(F.sum("n_toks").over(w), F.lit(0)).cast("long")
    )
    return packed.select(
        "doc_id",
        "shard",
        "start_off",
        "n_toks",
        F.expr(f"start_off div {PACK_CAP}").alias("seq_first"),
        F.expr(f"(start_off + n_toks - 1) div {PACK_CAP}").alias("seq_last"),
    )


# -- PII scrubbing ------------------------------------------------------
#
# The regex subset is deliberately common to Java (Spark) and RE2
# (DuckDB): character classes, bounded repeats, alternation — no
# lookaround, no backrefs. The driver fixtures are clean lowercase
# words, so deterministic PII strings are mixed in per doc_id on BOTH
# sides (same trick as keyword_stats_cjk) — the redaction path is
# value-checked, not just present.

EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
URL_RE = r"https?://[a-z0-9./_-]+"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"

_PII_INJECT = (
    " contact alice@example.com or bob.smith+spam@mail.co",
    " see https://spark.apache.org/docs/latest and http://example.org/a_b",
    " call 555-123-4567 now",
    "",
)
_SQL_PII_INJECT = (
    f"CASE doc_id % 4 WHEN 0 THEN '{_PII_INJECT[0]}' "
    f"WHEN 1 THEN '{_PII_INJECT[1]}' "
    f"WHEN 2 THEN '{_PII_INJECT[2]}' ELSE '' END"
)


@register(
    "pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, text || {_SQL_PII_INJECT} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS email_ct,
           CAST(len(regexp_extract_all(t, '{URL_RE}')) AS BIGINT) AS url_ct,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS phone_ct,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{URL_RE}', '<URL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g')) AS scrub_digest
    FROM aug
    """,
    doc="PII scrubbing: count and redact emails / URLs / phone numbers "
    "with a portable regex subset (no lookaround), emitting the md5 of "
    "the scrubbed text so the oracle verifies the exact redacted bytes. "
    "Pure JVM regexp expressions inside whole-stage codegen — the shape "
    "of every at-scale scrubbing pass (map-only, no shuffle at all).",
    tags=("llm-prep", "scrub"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    inject = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(_PII_INJECT[0]))
        .when(F.col("doc_id") % 4 == 1, F.lit(_PII_INJECT[1]))
        .when(F.col("doc_id") % 4 == 2, F.lit(_PII_INJECT[2]))
        .otherwise(F.lit(""))
    )
    aug = spread(t["documents"], "doc_id").select(
        "doc_id", F.concat(F.col("text"), inject).alias("t")
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(EMAIL_RE), F.lit(0))).cast("long").alias("email_ct"),
        F.size(F.regexp_extract_all("t", F.lit(URL_RE), F.lit(0))).cast("long").alias("url_ct"),
        F.size(F.regexp_extract_all("t", F.lit(PHONE_RE), F.lit(0))).cast("long").alias("phone_ct"),
        F.md5(scrubbed).alias("scrub_digest"),
    )


# -- repetition / quality signal ---------------------------------------


@register(
    "repetition_ratio",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    base AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio,
             CASE WHEN len(t) >= 2 THEN
               CAST(len(list_distinct(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1]))) AS DOUBLE) / (len(t) - 1)
             ELSE CAST(1.0 AS DOUBLE) END AS gram2_ratio
      FROM toks WHERE len(t) > 0
    ),
    freq AS (
      SELECT doc_id, MAX(ct) AS max_ct FROM (
        SELECT doc_id, tok, COUNT(*) AS ct
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        GROUP BY doc_id, tok
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, n_toks, uniq_ratio, gram2_ratio,
           CAST(max_ct AS DOUBLE) / n_toks AS top_tok_ratio
    FROM base b JOIN freq ON b.doc_id = freq.doc_id
    """,
    doc="Repetition-based quality signal: distinct-token ratio, distinct "
    "2-gram ratio, and the most-frequent-token share — the standard "
    "boilerplate/spam detectors a pre-training filter stacks on top of "
    "quality_score. Array metrics are per-row JVM expressions over the "
    "staged token array; the token-mode metric is explode + two grouped "
    "aggs (shuffle-parallel, no per-doc state).",
    tags=("llm-prep", "quality"),
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    staged = scoped_persist(
        textops.with_tokens(spread(t["documents"], "doc_id"))
        .select("doc_id", "toks")
        .filter(F.size("toks") > 0)
    )
    grams2 = textops.shingles(F.col("toks"), 2)
    base = staged.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias("uniq_ratio"),
        F.when(
            F.size("toks") >= 2,
            F.size(F.array_distinct(grams2)).cast("double") / (F.size("toks") - 1),
        )
        .otherwise(F.lit(1.0))
        .alias("gram2_ratio"),
    )
    freq = (
        staged.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("ct"))
        .groupBy("doc_id")
        .agg(F.max("ct").alias("max_ct"))
    )
    return base.join(freq, "doc_id").select(
        "doc_id",
        "n_toks",
        "uniq_ratio",
        "gram2_ratio",
        (F.col("max_ct").cast("double") / F.col("n_toks")).alias("top_tok_ratio"),
    )


# -- stratified (language-balanced) sampling ----------------------------
#
# Per-language keep rates expressed as integer thresholds on a 32-bit
# content hash: keep iff hash32(doc_id) < rate * 2^32. All-integer
# comparison — no float RNG anywhere, so the sample is deterministic,
# reproducible across engines and across reruns at any scale (the
# content-addressed property a training-data pipeline needs for
# resumable / auditable mixing).

LANG_RATES = {"en": 0.25, "de": 0.5, "es": 0.5, "fr": 0.75, "zh": 1.0}
DEFAULT_RATE = 0.1
_HASH_SPAN = 1 << 32


def _rate_threshold(rate: float) -> int:
    return int(rate * _HASH_SPAN)


_SQL_RATE_CASE = (
    "CASE lang "
    + " ".join(
        f"WHEN '{lang}' THEN {_rate_threshold(r)}" for lang, r in sorted(LANG_RATES.items())
    )
    + f" ELSE {_rate_threshold(DEFAULT_RATE)} END"
)


@register(
    "stratified_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, source,
             CAST(({_sql_hex_val('md5(CAST(doc_id AS VARCHAR))', 8)}) AS BIGINT) AS hv
      FROM documents
    )
    SELECT doc_id, lang, source FROM h
    WHERE hv < {_SQL_RATE_CASE}
    """,
    doc="Language-balanced stratified sampling — the data-mixing step of "
    "a pre-training pipeline: each language stratum keeps a configured "
    "fraction (upweighting low-resource languages), decided per row by "
    "an integer threshold on a 32-bit md5 of the doc id. Map-only scan, "
    "zero shuffles, zero RNG state: the same doc is kept or dropped "
    "identically on any engine, any partitioning, any rerun — "
    "content-addressed sampling, like dataset_split.",
    tags=("llm-prep", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    threshold = F.lit(_rate_threshold(DEFAULT_RATE))
    for lang, r in sorted(LANG_RATES.items()):
        threshold = F.when(F.col("lang") == lang, F.lit(_rate_threshold(r))).otherwise(
            threshold
        )
    return (
        t["documents"]
        .select("doc_id", "lang", "source", hv.alias("hv"))
        .filter(F.col("hv") < threshold)
        .drop("hv")
    )


# -- end-to-end corpus build --------------------------------------------

# the corpus gates, shared with the streaming front gate
# (streaming.pipelines.doc_quality_gate_app): quality score and the
# stopword ratio at which a doc counts as 'en'
QUALITY_MIN = 0.5
STOP_MIN = 0.05

# chunk-level boilerplate gate, composed into corpus_build: a chunk
# digest shared by more than BOILER_DOC_MIN distinct docs is
# boilerplate; a doc whose chunks are >= BOILER_RATIO_MAX boilerplate
# is dropped. This is the chunk_dedup machinery run as a gate — the
# catcher for repeated content the (representative-capped) LSH stage
# can only pair linearly: member-to-member near-dups inside a hot
# bucket that are not near the representative.
CD_TOKENS, CD_STRIDE = 16, 8  # finer than training chunks: boilerplate granularity
BOILER_DOC_MIN = 5
BOILER_RATIO_MAX = 0.6

# Shingle-level duplicate-coverage gate (duplicate_ngram_coverage
# composed in, SCALE.md "hot-bucket residue"): a doc whose distinct
# 3-gram shingles are >= DUP_COV_MAX shared-by->BOILER_DOC_MIN-docs is
# corpus-repeated content even when NO pairwise stage pairs it — the
# residue shape is a doc inside a capped hot bucket that is below the
# Jaccard threshold against the representative and whose repeats dodge
# the 16-token chunk alignment (mutations every < CD_TOKENS tokens).
# The inverted-index shape needs no pairs at all, so it holds at
# 100 TB where pairwise must cap. Real-data headroom: max many-doc
# coverage at sf0.01 is 0.09, so 0.5 fires only on genuine boilerplate.
DUP_COV_MAX = 0.5


def _corpus_gates_sql(sem_hits_sql: str) -> str:
    """The WITH-body every corpus_build-family oracle shares: scored
    docs, dedup survivors, the chunk-boilerplate and shingle-coverage
    ratios, the exact-n-gram contaminated-doc set, and (r15) the
    SEMANTIC contaminated set — ``sem_hits_sql`` is the embedding
    screen's CTE chain (plans.similarity._SQL_DECON_SEM_HITS, passed
    in because that module imports this one mid-file; the corpus
    oracles register via the deferred hook it calls at its end).
    ``corpus_build`` appends the shipping SELECT;
    ``corpus_gate_funnel`` appends the per-gate attribution SELECT —
    one definition of the gates, two reports."""
    from .dedup import CC_PARTITIONS  # noqa: F401  (parity of constants)
    from .dedup import JACCARD_THRESHOLD, SQL_LSH_CANDIDATES, SQL_SHINGLES3
    from .text import SQL_STOPS

    quality = (
        "least(CAST(len(t) AS DOUBLE) / 200.0, 1.0) * 0.4"
        " + (CAST(len(list_filter(t, x -> x IN " + SQL_STOPS + ")) AS DOUBLE) / len(t)) * 0.3"
        " + (1.0 - least(abs(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)"
        " / len(t) - 5.0) / 10.0, 1.0)) * 0.3"
    )
    stop_ratio = (
        "CAST(len(list_filter(t, x -> x IN " + SQL_STOPS + ")) AS DOUBLE) / len(t)"
    )
    return f"""
    WITH RECURSIVE {SQL_SHINGLES3},
    {SQL_LSH_CANDIDATES},
    pairs AS (
      SELECT doc_a, doc_b
      FROM cand JOIN sh a ON cand.doc_a = a.doc_id
                JOIN sh b ON cand.doc_b = b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(list_concat(a.s, b.s))) >= {JACCARD_THRESHOLD}
    ),
    e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(n, r) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.d, reach.r FROM reach JOIN e ON e.s = reach.n
    ),
    comp AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
    survivors AS (
      SELECT doc_id FROM comp WHERE doc_id = cluster_id
      UNION ALL
      SELECT d.doc_id FROM documents d
      WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
    ),
    scored AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             {stop_ratio} AS stop_ratio_v,
             {quality} AS quality
      FROM toks
    ),
    expanded AS (
      SELECT doc_id, t,
             unnest(range(1, greatest(len(t), 1) + 1, {CD_STRIDE})) AS cs
      FROM toks WHERE len(t) > 0
    ),
    cchunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, cs, cs + {CD_TOKENS - 1}), ' '))
               AS chunk_digest
      FROM expanded
    ),
    cshared AS (
      SELECT chunk_digest, COUNT(DISTINCT doc_id) AS nd
      FROM cchunks GROUP BY chunk_digest
    ),
    boiler AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN nd > {BOILER_DOC_MIN} THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS br
      FROM cchunks JOIN cshared USING (chunk_digest)
      GROUP BY doc_id
    ),
    {SQL_SHEX},
    {sql_shingle_cov(BOILER_DOC_MIN)},
    sh5 AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(t) >= {DECON_NGRAM}
                  THEN list_transform(range(1, len(t) - {DECON_NGRAM - 2}),
                       i -> array_to_string(list_slice(t, i, i + {DECON_NGRAM - 1}), ' '))
                  ELSE [] END) AS s5
      FROM toks
    ),
    train_g5 AS (
      SELECT doc_id, md5(unnest(s5)) AS gh FROM sh5 WHERE doc_id % {EVAL_MOD} != 0
    ),
    eval_g5 AS (
      SELECT DISTINCT md5(unnest(s5)) AS gh FROM sh5 WHERE doc_id % {EVAL_MOD} = 0
    ),
    contam AS (SELECT DISTINCT doc_id FROM train_g5 JOIN eval_g5 USING (gh)),
    {sem_hits_sql},
    contam_sem AS (SELECT DISTINCT vec_id AS doc_id FROM hits)
    """


def _corpus_build_oracle(sem_hits_sql: str) -> str:
    return (
        _corpus_gates_sql(sem_hits_sql)
        + f"""
    SELECT s.doc_id, s.n_tokens, s.quality
    FROM scored s JOIN survivors USING (doc_id)
    LEFT JOIN boiler b USING (doc_id)
    LEFT JOIN shcov sc USING (doc_id)
    WHERE s.stop_ratio_v >= {STOP_MIN} AND s.quality >= {QUALITY_MIN}
      AND COALESCE(b.br, 0.0) < {BOILER_RATIO_MAX}
      AND COALESCE(sc.scov, 0.0) < {DUP_COV_MAX}
      AND s.doc_id % {EVAL_MOD} != 0
      AND s.doc_id NOT IN (SELECT doc_id FROM contam)
      AND s.doc_id NOT IN (SELECT doc_id FROM contam_sem)
    """
    )


# Gate-attribution order for the funnel report — the order
# corpus_build applies them (eval exclusion and the doc-keyed
# anti-joins first, then the scored filters in conjunction order). A
# doc is charged to the FIRST gate it fails, so per-gate counts read
# as a funnel: every row at gate g passed gates 0..g-1.
GATE_NAMES = (
    "eval_excluded",
    "decontamination",
    "decon_semantic",
    "near_dup",
    "lang",
    "quality",
    "boilerplate",
    "dup_coverage",
    "shipped",
)


_CORPUS_BUILD_DOC = (
    "End-to-end training-corpus build — the composition a 100 TB "
    "pipeline actually ships: language gate (stopword-ratio >= 0.05 -> "
    "'en'), quality gate (>= 0.5), near-dup elimination (LSH "
    "candidates -> Jaccard verify -> connected components -> min-id "
    "survivor per cluster), the chunk-level boilerplate gate "
    "(chunk_dedup's machinery: docs whose 16-token chunks are >= 60% "
    "shared-by->5-docs boilerplate are dropped), AND the shingle-level "
    "duplicate-coverage gate (duplicate_ngram_coverage's inverted "
    "index: docs whose 3-gram shingles are >= 50% shared-by->5-docs "
    "are dropped — the pair-free catcher for hot-bucket residue that "
    "is below the Jaccard bar against the representative and dodges "
    "chunk alignment), AND the benchmark-decontamination gate (r7: "
    "the eval set itself is excluded and any training doc sharing a "
    f"{DECON_NGRAM}-gram with it is dropped — `decontaminate`'s hash-keyed "
    "equi-join run as a gate), AND (r15) the SEMANTIC decontamination "
    "gate (decontaminate_semantic composed in: train docs whose "
    "embedding reaches the SemDeDup cosine bar against any eval "
    "vector within a shared train-fit coarse cell are dropped — the "
    "paraphrased-contamination class no token n-gram gate can see), "
    "finished with doc-keyed hash joins. "
    "Every "
    "upstream stage is bucketed/bounded (no all-pairs anywhere) and "
    "the gates are map-only or single-shuffle, so the whole build is "
    "LSH-join cost plus id/digest-keyed joins at corpus scale."
)


def corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored, survivors, boiler, shcov, decon, sem = _gate_frames(spark, sf_dir)
    return (
        scored.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(decon, "doc_id", "left_anti")
        .join(sem, "doc_id", "left_anti")
        .join(survivors, "doc_id")
        .join(boiler, "doc_id", "left")
        .join(shcov, "doc_id", "left")
        .filter(
            (F.col("stop_ratio_v") >= STOP_MIN)
            & (F.col("quality") >= QUALITY_MIN)
            & (F.coalesce(F.col("br"), F.lit(0.0)) < BOILER_RATIO_MAX)
            & (F.coalesce(F.col("scov"), F.lit(0.0)) < DUP_COV_MAX)
        )
        .select("doc_id", "n_tokens", "quality")
    )


def _gate_frames(spark: SparkSession, sf_dir: str):
    """The six gate inputs corpus_build and corpus_gate_funnel share:
    (scored, survivors, boiler, shcov, decon, sem) — one definition of
    the gates on the Spark side, mirroring :func:`_corpus_gates_sql`."""
    from .dedup import corpus_components

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    comp = corpus_components(spark, sf_dir)
    ids = docs.select("doc_id")
    survivors = (
        ids.join(comp, ids["doc_id"] == comp["node"], "left")
        .filter(F.col("node").isNull() | (F.col("node") == F.col("comp")))
        .select("doc_id")
    )
    staged = textops.with_tokens(spread(docs, "doc_id"))
    toks = F.col("toks")
    scored = staged.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        textops.stop_ratio(toks).alias("stop_ratio_v"),
        textops.quality_score(toks, F.col("text")).alias("quality"),
    )
    # chunk-level boilerplate gate (chunk_dedup composed in): two
    # digest/doc-keyed shuffles over the fine-grained chunk table —
    # the same bounded shape as chunk_dedup itself
    chunks = textops.chunk_docs(
        spread(docs, "doc_id"), chunk_tokens=CD_TOKENS, stride=CD_STRIDE
    ).select("doc_id", "chunk_digest")
    shared = chunks.groupBy("chunk_digest").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    boiler = (
        chunks.join(shared, "chunk_digest")
        .groupBy("doc_id")
        .agg(
            (
                F.sum((F.col("nd") > BOILER_DOC_MIN).cast("int"))
                / F.count("*")
            ).alias("br")
        )
    )
    # shingle-level duplicate-coverage gate (duplicate_ngram_coverage
    # composed in): the shared corpus-scoped inverted index — linear
    # in total shingles, no pairs
    shcov = shingle_many_doc_cov(spark, sf_dir, BOILER_DOC_MIN)
    # benchmark decontamination gate (decontaminate composed in, r7):
    # the training corpus excludes the benchmark itself AND any
    # training doc sharing a DECON_NGRAM-gram with it — same
    # hash-keyed equi-join shape, one doc-keyed join at the consumer
    decon = D.contaminated_docs(
        docs, F.col("doc_id") % EVAL_MOD == 0, ngram=DECON_NGRAM,
        grams=corpus_decon_grams(spark, sf_dir),
    ).select("doc_id")
    # semantic decontamination gate (decontaminate_semantic composed
    # in, r15): the embedding screen's flagged train docs — imported
    # here (not at module top) because plans.similarity imports THIS
    # module mid-file; at call time both are complete
    from .similarity import corpus_decon_semantic_hits

    sem = (
        corpus_decon_semantic_hits(spark, sf_dir)
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
    )
    return scored, survivors, boiler, shcov, decon, sem


_CORPUS_FUNNEL_DOC = (
    "Gate-funnel observability for corpus_build — per-gate doc and "
    "token attrition, each doc charged to the FIRST gate it fails in "
    "corpus_build's application order (eval exclusion, "
    "decontamination, semantic decontamination, near-dup, language, "
    "quality, chunk boilerplate, "
    "shingle coverage, shipped). The report a pipeline owner reads "
    "before changing any threshold: which gate costs how many docs "
    "and how much token mass, as a true funnel (every row at gate g "
    "passed gates 0..g-1). Shares every gate frame with corpus_build "
    "itself (_gate_frames / _corpus_gates_sql — one definition, two "
    "reports) plus one small agg; its 'shipped' row is pinned equal "
    "to corpus_build's row count by a test."
)


def corpus_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored, survivors, boiler, shcov, decon, sem = _gate_frames(spark, sf_dir)
    j = (
        scored.join(decon.withColumn("_cont", F.lit(1)), "doc_id", "left")
        .join(sem.withColumn("_sem", F.lit(1)), "doc_id", "left")
        .join(survivors.withColumn("_surv", F.lit(1)), "doc_id", "left")
        .join(boiler, "doc_id", "left")
        .join(shcov, "doc_id", "left")
    )
    gate_order = (
        F.when(F.col("doc_id") % EVAL_MOD == 0, 0)
        .when(F.col("_cont").isNotNull(), 1)
        .when(F.col("_sem").isNotNull(), 2)
        .when(F.col("_surv").isNull(), 3)
        .when(F.col("stop_ratio_v") < STOP_MIN, 4)
        .when(F.col("quality") < QUALITY_MIN, 5)
        .when(F.coalesce(F.col("br"), F.lit(0.0)) >= BOILER_RATIO_MAX, 6)
        .when(F.coalesce(F.col("scov"), F.lit(0.0)) >= DUP_COV_MAX, 7)
        .otherwise(8)
    )
    names = F.array(*[F.lit(n) for n in GATE_NAMES])
    return (
        j.select(gate_order.alias("gate_order"), "n_tokens")
        .groupBy("gate_order")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens"),
        )
        .select(
            "gate_order",
            F.element_at(names, F.col("gate_order") + 1).alias("gate"),
            "n_docs",
            "tokens",
        )
    )


def _register_corpus_queries() -> None:
    """Register corpus_build + corpus_gate_funnel. DEFERRED: their
    oracles embed the semantic screen's CTE chain from
    plans.similarity, which imports THIS module mid-file — so that
    module calls this hook at the end of its own import, when both
    are complete (the _register_decon_method_agreement pattern,
    inverted). Idempotent: register() overwrites by name."""
    from .similarity import _SQL_DECON_SEM_HITS

    register(
        "corpus_build",
        oracle=_corpus_build_oracle(_SQL_DECON_SEM_HITS),
        doc=_CORPUS_BUILD_DOC,
        tags=("llm-prep", "dedup", "text", "composition"),
    )(corpus_build)
    register(
        "corpus_gate_funnel",
        oracle=_corpus_gates_sql(_SQL_DECON_SEM_HITS)
        + f""",
    flags AS (
      SELECT s.doc_id, s.n_tokens,
             CASE WHEN s.doc_id % {EVAL_MOD} = 0 THEN 0
                  WHEN s.doc_id IN (SELECT doc_id FROM contam) THEN 1
                  WHEN s.doc_id IN (SELECT doc_id FROM contam_sem) THEN 2
                  WHEN s.doc_id NOT IN (SELECT doc_id FROM survivors) THEN 3
                  WHEN s.stop_ratio_v < {STOP_MIN} THEN 4
                  WHEN s.quality < {QUALITY_MIN} THEN 5
                  WHEN COALESCE(b.br, 0.0) >= {BOILER_RATIO_MAX} THEN 6
                  WHEN COALESCE(sc.scov, 0.0) >= {DUP_COV_MAX} THEN 7
                  ELSE 8 END AS gate_order
      FROM scored s LEFT JOIN boiler b USING (doc_id)
                    LEFT JOIN shcov sc USING (doc_id)
    )
    SELECT gate_order,
           CASE gate_order {' '.join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(GATE_NAMES))}
           END AS gate,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM flags GROUP BY gate_order
    """,
        doc=_CORPUS_FUNNEL_DOC,
        tags=("llm-prep", "audit", "composition"),
    )(corpus_gate_funnel)


@register(
    "dup_coverage_histogram",
    oracle=f"""
    WITH {SQL_SHINGLES3},
    {SQL_SHEX},
    {sql_shingle_cov(BOILER_DOC_MIN)}
    SELECT CAST(FLOOR(scov * 10) AS INTEGER) AS cov_bucket,
           COUNT(*) AS n_docs,
           CAST(FLOOR(scov * 10) AS INTEGER) >= {int(DUP_COV_MAX * 10)} AS gated
    FROM shcov
    GROUP BY 1
    """,
    doc="Calibration audit for corpus_build's shingle-coverage gate — "
    "the same role lsh_bucket_audit plays for the hash caps and "
    "embedding_cluster_stats for the learned clusters: the corpus "
    "distribution of per-doc many-doc shingle coverage (fraction of a "
    f"doc's distinct 3-gram shingles shared by more than "
    f"{BOILER_DOC_MIN} docs), bucketed at 0.1 width, with the gate's "
    "verdict per bucket. Reads the DUP_COV_MAX margin off real data "
    "before the gate ships (sf0.01: everything in bucket 0, far from "
    "the 0.5 bar). Same inverted-index shape as the gate itself — "
    "linear in total shingles, no pairs.",
    tags=("llm-prep", "dedup", "audit"),
)
def dup_coverage_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    shcov = shingle_many_doc_cov(spark, sf_dir, BOILER_DOC_MIN)
    bucket = F.floor(F.col("scov") * 10).cast("int")
    return (
        shcov.select(bucket.alias("cov_bucket"))
        .groupBy("cov_bucket")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("gated", F.col("cov_bucket") >= int(DUP_COV_MAX * 10))
    )


@register(
    "chunk_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS} AS t FROM documents),
    expanded AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, {CD_STRIDE})) AS s
      FROM toks WHERE len(t) > 0
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, s, s + {CD_TOKENS - 1}), ' '))
               AS chunk_digest
      FROM expanded
    )
    SELECT chunk_digest,
           COUNT(*) AS dup_ct,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS keeper_doc
    FROM chunks
    GROUP BY chunk_digest
    HAVING COUNT(*) > 1
    """,
    doc="Sub-document boilerplate detection: exact dedup at a fine CHUNK "
    "granularity (16-token windows, stride 8) — repeated windows across (or within) "
    "documents surface as shared chunk digests; keeper = min doc. The "
    "chunk fan-out stays in codegen (doc_chunking) and the dedup is "
    "one hash-groupBy on the digest — the paragraph/line-dedup shape "
    "(C4-style) at whatever window the tokenizer yields.",
    tags=("llm-prep", "chunking", "dedup"),
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    chunks = textops.chunk_docs(
        spread(t["documents"], "doc_id"),
        chunk_tokens=CD_TOKENS,
        stride=CD_STRIDE,
    )
    return (
        chunks.groupBy("chunk_digest")
        .agg(
            F.count("*").alias("dup_ct"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
        .filter(F.col("dup_ct") > 1)
    )


# -- cross-method dedup audit -------------------------------------------


def _method_agreement_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD, SQL_LSH_CANDIDATES, SQL_SHINGLES3

    hexval = _sql_hex_val("md5(tok)", PAIR_BITS // 4)
    return f"""
    WITH {SQL_SHINGLES3},
    {SQL_LSH_CANDIDATES},
    mh_pairs AS (
      SELECT cand.doc_a, cand.doc_b FROM cand
      JOIN sh a ON cand.doc_a = a.doc_id
      JOIN sh b ON cand.doc_b = b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= {JACCARD_THRESHOLD}
    ),
    ut AS (SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents),
    hh AS (SELECT doc_id, {hexval} AS hv FROM ut),
    votes AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hh, (SELECT unnest(range(0, {PAIR_BITS})) AS j) jj
      GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, simhash, b,
             (simhash >> (b * {PAIR_BITS // 4})) & {(1 << (PAIR_BITS // 4)) - 1} AS bv
      FROM fp, (SELECT unnest(range(0, 4)) AS b) bb
    ),
    bstat2 AS (
      SELECT b, bv, COUNT(*) AS bct, MIN(doc_id) AS rep,
             arg_min(simhash, doc_id) AS rep_sh
      FROM banded GROUP BY b, bv
    ),
    sh_pairs AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
               a.simhash AS sa, c.simhash AS sb
        FROM banded a
        JOIN bstat2 ON a.b = bstat2.b AND a.bv = bstat2.bv
                   AND bstat2.bct <= {D.MAX_BUCKET}
        JOIN banded c
          ON a.b = c.b AND a.bv = c.bv AND a.doc_id < c.doc_id
        UNION
        SELECT t.rep AS doc_a, banded.doc_id AS doc_b,
               t.rep_sh AS sa, banded.simhash AS sb
        FROM banded JOIN bstat2 t ON banded.b = t.b AND banded.bv = t.bv
        WHERE t.bct > {D.MAX_BUCKET} AND banded.doc_id > t.rep
      ) WHERE bit_count(xor(sa, sb)) <= 3
    )
    SELECT
      COUNT(*) FILTER (WHERE m.doc_a IS NOT NULL AND s2.doc_a IS NOT NULL) AS n_both,
      COUNT(*) FILTER (WHERE s2.doc_a IS NULL) AS n_minhash_only,
      COUNT(*) FILTER (WHERE m.doc_a IS NULL) AS n_simhash_only
    FROM mh_pairs m FULL OUTER JOIN sh_pairs s2
      ON m.doc_a = s2.doc_a AND m.doc_b = s2.doc_b
    """


@register(
    "dedup_method_agreement",
    oracle=_method_agreement_oracle(),
    doc="Cross-method dedup audit — MinHash/Jaccard-verified pairs vs "
    "SimHash Hamming<=3 pairs, joined on the (id-ordered) pair key: "
    "how much the two near-dup detectors agree, and what each finds "
    "alone. The method-comparison report a pipeline uses to pick "
    "thresholds, as ann_recall_ivf is for the ANN strategies. Both "
    "pair sets stay banded/bounded; the comparison is one pair-keyed "
    "full outer join.",
    tags=("llm-prep", "dedup", "audit"),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import JACCARD_THRESHOLD

    t = load_tables(spark, sf_dir, "documents")
    docs = t["documents"]
    sh = corpus_shingles(spark, sf_dir)
    mh_pairs = (
        D.jaccard_verify(sh, D.lsh_pairs_from_bands(corpus_band_keys(spark, sf_dir)))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    fp = D.simhash(docs, "doc_id", "text", bits=PAIR_BITS)
    sh_pairs = D.simhash_near_dup_pairs(fp, bits=PAIR_BITS, max_hamming=3, bands=4).select(
        F.col("doc_a").alias("sa"), F.col("doc_b").alias("sb")
    )
    j = mh_pairs.join(
        sh_pairs,
        (mh_pairs["doc_a"] == sh_pairs["sa"]) & (mh_pairs["doc_b"] == sh_pairs["sb"]),
        "full_outer",
    )
    return j.agg(
        F.count(F.when(F.col("doc_a").isNotNull() & F.col("sa").isNotNull(), 1)).alias("n_both"),
        F.count(F.when(F.col("sa").isNull(), 1)).alias("n_minhash_only"),
        F.count(F.when(F.col("doc_a").isNull(), 1)).alias("n_simhash_only"),
    )


# -- mixture weights + length histogram ---------------------------------
#
# The two corpus-shaping audits a pre-training run decides its data
# recipe from: how to re-weight provenance sources toward a target
# mixture, and how document lengths distribute over power-of-two
# context buckets (the padded-batching waste that motivates
# sequence_packing's concat-then-chunk policy).


@register(
    "domain_mixture_weights",
    oracle=f"""
    WITH per AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
             COUNT(*) AS n_sources
      FROM per
    )
    SELECT source, n_docs, tokens,
           CAST(tokens AS DOUBLE) / total_tokens AS natural_share,
           1.0 / n_sources AS target_share,
           least(1.0, (1.0 / n_sources)
                        / (CAST(tokens AS DOUBLE) / total_tokens))
             AS sample_weight,
           CAST(floor(tokens * least(1.0, (1.0 / n_sources)
                        / (CAST(tokens AS DOUBLE) / total_tokens)))
                AS BIGINT) AS expected_tokens
    FROM per CROSS JOIN tot
    """,
    doc="Domain-mixture rebalancing weights — the data-recipe step "
    "(DoReMi/Pile-style): per provenance source, token mass and its "
    "natural share of the corpus, then the downsampling weight "
    "min(1, target_share / natural_share) that moves the mixture "
    "toward a uniform target without upsampling, and the token count "
    "the weighted corpus would contribute. One map-side-combinable "
    "agg over the corpus + a broadcast scalar for the totals — the "
    "cheapest query in the family at any scale. All shares are single "
    "IEEE divisions of exact integer sums, so every engine reproduces "
    "the exact doubles.",
    tags=("llm-prep", "audit"),
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    per = (
        t["documents"]
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(textops.tokenize(F.col("text")))).cast("long").alias("tokens"),
        )
    )
    tot = per.agg(
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    natural = F.col("tokens").cast("double") / F.col("total_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    weight = F.least(F.lit(1.0), target / natural)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "tokens",
            natural.alias("natural_share"),
            target.alias("target_share"),
            weight.alias("sample_weight"),
            F.floor(F.col("tokens") * weight).cast("long").alias("expected_tokens"),
        )
    )


@register(
    "packing_length_histogram",
    oracle=f"""
    WITH d AS (SELECT len({SQL_TOKS}) AS n FROM documents),
    b AS (
      SELECT n,
             CASE WHEN n <= 1 THEN CAST(1 AS BIGINT)
                  ELSE (CAST(1 AS BIGINT) << length(bin(n - 1))) END AS bucket
      FROM d
    ),
    hist AS (
      SELECT bucket,
             COUNT(*) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS tokens_sum,
             CAST(SUM(bucket - n) AS BIGINT) AS pad_waste
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(tokens_sum) AS BIGINT) AS total_tokens FROM hist)
    SELECT bucket, n_docs, tokens_sum, pad_waste,
           CAST(tokens_sum AS DOUBLE) / total_tokens AS token_share,
           CAST(CAST(SUM(tokens_sum) OVER (ORDER BY bucket) AS BIGINT) AS DOUBLE)
             / total_tokens AS cum_token_share
    FROM hist CROSS JOIN tot
    """,
    doc="Sequence-length histogram over power-of-two context buckets — "
    "the padded-batching audit read next to sequence_packing: per "
    "bucket (smallest 2^k >= token count, computed with exact integer "
    "bit-length arithmetic, never float log2), document count, token "
    "mass, the padding tokens a pad-to-bucket batching policy would "
    "waste, and the exact/cumulative token share. One grouped agg; "
    "the window runs over the ~20 post-aggregation bucket rows, never "
    "the corpus, and the total rides a broadcast scalar.",
    tags=("llm-prep", "packing", "audit"),
)
def packing_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "documents")
    n = F.size(textops.tokenize(F.col("text")))
    # shiftleft's numBits must be a column here, so spell it in SQL
    # (cast through a staged column to keep tokenize to one run per row)
    b = (
        t["documents"]
        .select(n.cast("long").alias("n"))
        .withColumn(
            "bucket",
            F.when(F.col("n") <= 1, F.lit(1).cast("long")).otherwise(
                F.expr("CAST(shiftleft(1L, length(bin(n - 1))) AS BIGINT)")
            ),
        )
    )
    hist = b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").cast("long").alias("tokens_sum"),
        F.sum(F.col("bucket") - F.col("n")).cast("long").alias("pad_waste"),
    )
    tot = hist.agg(F.sum("tokens_sum").cast("long").alias("total_tokens"))
    # the cumulative window sees only the ~20 aggregated bucket rows —
    # a single-partition window over a histogram, not over data
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_docs",
            "tokens_sum",
            "pad_waste",
            (F.col("tokens_sum").cast("double") / F.col("total_tokens")).alias("token_share"),
            (
                F.sum("tokens_sum").over(w).cast("double") / F.col("total_tokens")
            ).alias("cum_token_share"),
        )
    )


@register(
    "mixture_temperature",
    oracle=f"""
    WITH per AS (
      SELECT lang,
             COUNT(*) AS n_docs,
             CAST(SUM(len({SQL_TOKS})) AS BIGINT) AS tokens
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(CAST(sqrt(tokens) AS DECIMAL(30,6))) AS DOUBLE) AS denom
      FROM per
    )
    SELECT lang, n_docs, tokens,
           CAST(tokens AS DOUBLE) / total_tokens AS natural_share,
           sqrt(tokens) / denom AS temp_share,
           (sqrt(tokens) / denom)
             / (CAST(tokens AS DOUBLE) / total_tokens) AS boost,
           CAST(floor(total_tokens * (sqrt(tokens) / denom)) AS BIGINT)
             AS expected_tokens
    FROM per CROSS JOIN tot
    """,
    doc="Temperature-scaled language mixture — the multilingual "
    "rebalancing recipe (XLM-R/mT5-style): resampling share q_i = "
    "p_i^alpha / sum_j p_j^alpha over the per-language token masses, "
    "boosting low-resource languages without fully flattening the "
    "mixture. alpha is fixed at 0.5 and computed as sqrt(tokens) — "
    "sqrt is IEEE-correctly-rounded on every engine, so no rounding "
    "games; an arbitrary alpha would go through pow(), whose last "
    "bits differ across libms, and would need an explicit round. The "
    "sum of sqrt terms is decimal-accumulated (functions/exact.py) so "
    "the denominator is order-insensitive. Same shape as "
    "domain_mixture_weights: one map-side-combinable agg + a "
    "broadcast 1-row totals scalar — constant work past the token "
    "count at any corpus scale.",
    tags=("llm-prep", "audit"),
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import exact_sum

    t = load_tables(spark, sf_dir, "documents")
    per = (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(textops.tokenize(F.col("text")))).cast("long").alias("tokens"),
        )
    )
    tot = per.agg(
        F.sum("tokens").cast("long").alias("total_tokens"),
        exact_sum(F.sqrt(F.col("tokens"))).alias("denom"),
    )
    natural = F.col("tokens").cast("double") / F.col("total_tokens")
    temp = F.sqrt(F.col("tokens")) / F.col("denom")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "tokens",
            natural.alias("natural_share"),
            temp.alias("temp_share"),
            (temp / natural).alias("boost"),
            F.floor(F.col("total_tokens") * temp).cast("long").alias("expected_tokens"),
        )
    )


# -- named corpus-scoped setups (bench ledger lines; see catalog.SETUPS)


@register_setup("decon_gram_index")
def _setup_decon_gram_index(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the corpus-scoped DECON_NGRAM gram-hash table the
    decon family shares (r16: was one shingle pass PER consumer).
    Registered BEFORE decon_bloom_width: the width now DERIVES from
    this index, and the pinned order keeps the index build cost on
    its own ledger line."""
    corpus_decon_grams(spark, sf_dir).count()


@register_setup("decon_bloom_width")
def _setup_decon_bloom_width(spark: SparkSession, sf_dir: str) -> None:
    """Memoize the decontamination Bloom width scalar (one grouped
    count over the gram index) shared by the Bloom decon family."""
    decon_bloom_bits(spark, sf_dir)
