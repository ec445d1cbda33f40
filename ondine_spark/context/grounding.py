"""Grounding (V1): score LLM outputs against source text (anti-hallucination).

Reference (ondine/api/pipeline.py:960-1022, ondine/context/text.py:33-72,
crates/ondine-core/src/evidence/grounding.rs:44-112): split the source into
sentences; grounding score = max over sentences of the 2-document TF-IDF
cosine (corpus = {output, sentence}, smoothed idf = ln(2/df)+1); below
``threshold`` → flag or discard the output.

Spark-first: grounding is within-row, so the score is one projected column
of JVM higher-order array functions — no join, no shuffle, no Python. The
input is read exactly once, so an unpinned upstream (the LLM invoke in
``Pipeline._verify``) runs once per row.

The pair cosine decomposes over integer term counts. With idf=1 for shared
terms (df=2 → ln(1)+1) and idf=c=ln(2)+1 for solo terms (df=1):
    dot        = Σ_shared tf_a·tf_b
    ‖a‖²       = shared_sq_a + c²·(S_a − shared_sq_a)
where S_a = Σ_t tf_a². Per row, the output's terms, its distinct
(term, tf) list and S_l are let-bound (Catalyst does not share
subexpressions inside lambdas); per sentence, one aggregate over the
output's distinct terms yields dot, sq_l and sq_r. The sums stay integral,
so scores equal the term-join form the oracle computes in ANSI SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ondine_spark.functions.similarity import let_bind
from ondine_spark.knowledge.chunker import split_sentences

IDF_SOLO = math.log(2.0) + 1.0
GROUNDING_SCORE = "_grounding_score"
GROUNDED = "_grounded"

_TOKEN_RE = "[a-z0-9]+"


def _long(v: int) -> Column:
    return F.lit(v).cast("long")


def _terms(text: Column) -> Column:
    """Reference tokenization: [a-z0-9]+ on lowered text
    (ondine/context/text.py)."""
    return F.regexp_extract_all(F.lower(text), F.lit(_TOKEN_RE), 0)


def _tf(terms: Column, t: Column) -> Column:
    return F.size(F.filter(terms, lambda x: x == t)).cast("long")


def _sum_sq_tf(terms: Column) -> Column:
    """Σ_t tf_t² in one pass over the sorted terms (a long unpunctuated
    source sentence stays O(n log n)): the k-th element of a run of equal
    terms adds k² − (k−1)² = 2k − 1."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        _long(0).alias("run"),
        _long(0).alias("sq"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(_long(1))
        return let_bind(run, lambda k: F.struct(
            x.alias("prev"), k.alias("run"), (acc["sq"] + 2 * k - 1).alias("sq"),
        ))

    return F.aggregate(F.array_sort(terms), init, step, lambda acc: acc["sq"])


def _grounding_score(output: Column, source: Column) -> Column:
    """Max over the source's sentences of the output/sentence TF-IDF
    cosine; 0.0 when no sentence shares a term with the output (a null
    output or source propagates null up to the final coalesce)."""
    c2 = IDF_SOLO * IDF_SOLO

    def norm(sq: Column, total: Column) -> Column:
        return F.sqrt(sq + c2 * (total - sq))

    def sentence_cosine(tl: Column, s_l: Column, r: Column) -> Column:
        init = F.struct(
            _long(0).alias("dot"), _long(0).alias("sq_l"), _long(0).alias("sq_r")
        )

        def step(acc: Column, p: Column) -> Column:
            return let_bind(_tf(r, p["t"]), lambda n: F.struct(
                (acc["dot"] + p["tf"] * n).alias("dot"),
                (acc["sq_l"] + F.when(n > 0, p["tf"] * p["tf"]).otherwise(_long(0)))
                .alias("sq_l"),
                (acc["sq_r"] + n * n).alias("sq_r"),
            ))

        def finish(acc: Column) -> Column:
            # dot > 0 ⇔ a shared term, which also makes both norms positive
            norms = norm(acc["sq_l"], s_l) * norm(acc["sq_r"], _sum_sq_tf(r))
            return F.when(acc["dot"] > 0, acc["dot"] / norms).otherwise(F.lit(0.0))

        return F.aggregate(tl, init, step, finish)

    def per_row(tl: Column, s_l: Column) -> Column:
        return F.array_max(F.transform(
            split_sentences(source),
            lambda s: let_bind(_terms(s), lambda r: sentence_cosine(tl, s_l, r)),
        ))

    score = let_bind(_terms(output), lambda ts: let_bind(
        F.transform(
            F.array_distinct(ts),
            lambda t: F.struct(t.alias("t"), _tf(ts, t).alias("tf")),
        ),
        lambda tl: let_bind(
            F.aggregate(tl, _long(0), lambda a, p: a + p["tf"] * p["tf"]),
            lambda s_l: per_row(tl, s_l),
        ),
    ))
    return F.coalesce(score, F.lit(0.0))


def grounding_scores(
    df: DataFrame,
    output_col: str,
    source_col: str,
    threshold: float = 0.3,
    on_fail: str = "flag",
) -> DataFrame:
    """Append ``_grounding_score`` (max sentence TF-IDF cosine) and either
    flag (``_grounded`` boolean) or discard (null the output) rows below
    ``threshold`` (reference policy: ondine/api/pipeline.py:1003-1018)."""
    out = df.withColumn(
        GROUNDING_SCORE, _grounding_score(F.col(output_col), F.col(source_col))
    )
    if on_fail == "discard":
        return out.withColumn(
            output_col,
            F.when(F.col(GROUNDING_SCORE) >= threshold, F.col(output_col)),
        )
    return out.withColumn(GROUNDED, F.col(GROUNDING_SCORE) >= threshold)
