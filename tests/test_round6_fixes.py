"""Round-6 optimization-round regression tests.

Each test pins an internals change made for performance (or a
correctness fix taken from ADVICE.md) to its observable contract:

- prefix-filter bound: exact decimal ceiling (ADVICE medium — double
  arithmetic overshot the true ceiling for many (τ, |A|) combos)
- unrolled fixed-dim cosine ≡ interpreted fold, bit for bit
- doc_id-partitioned shingle table: downstream doc-keyed aggregations
  plan no additional exchange
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# exact prefix ceiling
# ---------------------------------------------------------------------------


def test_prefix_ceiling_exact_for_float_unsafe_tau(spark):
    """ceil(0.405·600) is 243 in exact arithmetic; the double product is
    243.00000000000003 whose ceil (244) shortened the lossless prefix by
    one. The operator must use the exact bound."""
    row = spark.range(1).select(
        F.ceil(
            F.lit(repr(0.405)).cast("decimal(20,18)") * F.lit(600).cast("bigint")
        ).alias("exact"),
        F.ceil(F.lit(0.405) * F.lit(600).cast("bigint")).alias("double_path"),
    ).collect()[0]
    assert row.exact == 243
    assert row.double_path == 244  # documents why the fix exists


def test_ngram_prefix_matches_all_pairs_at_unsafe_tau(spark):
    """Prefix join ≡ brute-force inverted-index join at a τ whose double
    ceiling rounds wrong (0.405): the lossless claim must not depend on
    float-safe thresholds."""
    from skosconverter_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_prefix,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = []
    for i in range(12):
        toks = [words[(i + k) % len(words)] for k in range(8 + (i % 5))]
        texts.append(" ".join(toks))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    tau = 0.405
    brute = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, tau, join_cost_budget=0).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_prefix(docs, tau).collect()
    }
    assert pref == brute


# ---------------------------------------------------------------------------
# unrolled cosine ≡ fold
# ---------------------------------------------------------------------------


def test_unrolled_dot_bit_identical_to_fold(spark):
    """The codegen fast path must reproduce the interpreted left fold
    bit for bit — including sign-of-zero (the chain is seeded with
    lit(0.0) exactly like the fold) and null arrays."""
    import random

    from skosconverter_spark.operators import similarity as S

    rnd = random.Random(6)
    rows = []
    for i in range(50):
        v = [rnd.uniform(-1, 1) for _ in range(64)]
        rows.append((i, v))
    rows.append((50, [0.0] * 64))       # all-zero: 0/0 guard + ±0 folds
    rows.append((51, [-0.0] * 64))      # negative-zero products
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.limit(5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    joined = df.crossJoin(q)

    def scores(hint):
        old = S.DIM_HINT
        S.DIM_HINT = hint
        try:
            out = joined.select(
                "vec_id",
                "qid",
                S.dot_fast(F.col("embedding"), F.col("qv")).alias("dot"),
                S.norm_fast(F.col("embedding")).alias("nrm"),
            ).collect()
        finally:
            S.DIM_HINT = old
        return sorted((r.vec_id, r.qid, r.dot, r.nrm) for r in out)

    assert scores(64) == scores(0)


def test_dot_guard_falls_back_for_other_dims(spark):
    from skosconverter_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "id long, a array<double>, b array<double>",
    )
    got = df.select(S.dot_fast(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert got == ((0.0 + 1.0 * 4.0) + 2.0 * 5.0) + 3.0 * 6.0


# ---------------------------------------------------------------------------
# doc_id-partitioned shingles: no extra exchange downstream
# ---------------------------------------------------------------------------


def test_doc_shingles_partitioning_feeds_signature_agg(spark):
    """The minhash signature groupBy(doc_id) must reuse doc_shingles'
    doc_id hash partitioning instead of inserting its own exchange
    (the 134 MB partial-aggregation pathology of round 6)."""
    from skosconverter_spark.operators.dedup import doc_shingles, minhash_band_rows

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} tok{i+3} tok{i+4}") for i in range(20)],
        "doc_id long, text string",
    )
    sig = minhash_band_rows(doc_shingles(docs, "text"))
    plan = sig._jdf.queryExecution().executedPlan().toString()
    ensure = [
        line for line in plan.splitlines()
        if "Exchange" in line and "ENSURE_REQUIREMENTS" in line
    ]
    assert not ensure, f"signature agg re-shuffled: {ensure}"
