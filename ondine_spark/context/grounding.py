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

from ondine_spark.knowledge.chunker import split_sentences_sql

IDF_SOLO = math.log(2.0) + 1.0
GROUNDING_SCORE = "_grounding_score"
GROUNDED = "_grounded"

_TOKEN_RE = "[a-z0-9]+"


def _sql_string(v: str) -> str:
    """``v`` as a Spark SQL string literal (backslash escapes)."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_ident(name: str) -> str:
    """Column ``name`` as a quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _terms(text: str) -> str:
    """Reference tokenization: [a-z0-9]+ on lowered text
    (ondine/context/text.py)."""
    return f"regexp_extract_all(lower({text}), {_sql_string(_TOKEN_RE)}, 0)"


def _let(expr: str, var: str, body: str) -> str:
    """:func:`ondine_spark.functions.similarity.let_bind` in SQL: ``expr``
    evaluated once per row, bound to the lambda variable ``var``."""
    return f"element_at(transform(array({expr}), {var} -> {body}), 1)"


def _tf(terms: str, t: str, var: str) -> str:
    return f"CAST(size(filter({terms}, {var} -> {var} = {t})) AS BIGINT)"


def _sum_sq_tf(terms: str) -> str:
    """Σ_t tf_t² in one pass over the sorted terms (a long unpunctuated
    source sentence stays O(n log n)): the k-th element of a run of equal
    terms adds k² − (k−1)² = 2k − 1."""
    run = _let(
        "CASE WHEN q_x = q_acc.prev THEN q_acc.run + 1 ELSE 1L END", "q_k",
        "named_struct('prev', q_x, 'run', q_k, 'sq', q_acc.sq + 2 * q_k - 1)",
    )
    return (
        f"aggregate(array_sort({terms}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'sq', 0L), "
        f"(q_acc, q_x) -> {run}, q_acc -> q_acc.sq)"
    )


def _grounding_score(output_col: str, source_col: str) -> Column:
    """Max over the source's sentences of the output/sentence TF-IDF
    cosine; 0.0 when no sentence shares a term with the output (a null
    output or source propagates null up to the final coalesce).

    ONE SQL expression string, so building it is one parse: the same
    lambdas built as Columns cost ~27 py4j higher-order-function calls
    (~0.33 s of driver time) per call. Both columns are read once, in
    the outermost binding ``g``, so a column name can never resolve to
    one of the lambda variables, which are named per nesting level:
    ``tl`` the output's (t, tf) list, ``s_l`` its Σ tf², ``r`` a
    sentence's terms, ``p`` one (t, tf) entry."""
    c2 = f"{IDF_SOLO * IDF_SOLO!r}D"

    def norm(sq: str, total: str) -> str:
        return f"sqrt({sq} + ({total} - {sq}) * {c2})"

    step = _let(
        _tf("r", "p.t", "y"), "n",
        "named_struct('dot', acc.dot + p.tf * n, "
        "'sq_l', acc.sq_l + CASE WHEN n > 0 THEN p.tf * p.tf ELSE 0L END, "
        "'sq_r', acc.sq_r + n * n)",
    )
    # dot > 0 ⇔ a shared term, which also makes both norms positive
    finish = (
        "CASE WHEN acc.dot > 0 THEN acc.dot / ("
        f"{norm('acc.sq_l', 's_l')} * {norm('acc.sq_r', _sum_sq_tf('r'))}"
        ") ELSE 0.0D END"
    )
    sentence_cosine = (
        "aggregate(tl, named_struct('dot', 0L, 'sq_l', 0L, 'sq_r', 0L), "
        f"(acc, p) -> {step}, acc -> {finish})"
    )
    per_row = (
        "array_max(transform(g.ss, "
        f"s -> {_let(_terms('s'), 'r', sentence_cosine)}))"
    )
    # the output's terms and the source's sentences
    columns = (
        f"named_struct('ts', {_terms(_sql_ident(output_col))}, "
        f"'ss', {split_sentences_sql(_sql_ident(source_col))})"
    )
    score = _let(columns, "g", _let(
        "transform(array_distinct(g.ts), t -> named_struct("
        f"'t', t, 'tf', {_tf('g.ts', 't', 'x')}))",
        "tl",
        _let("aggregate(tl, 0L, (a, e) -> a + e.tf * e.tf)", "s_l", per_row),
    ))
    return F.expr(f"coalesce({score}, 0.0D)")


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
    out = df.withColumn(GROUNDING_SCORE, _grounding_score(output_col, source_col))
    if on_fail == "discard":
        return out.withColumn(
            output_col,
            F.when(F.col(GROUNDING_SCORE) >= threshold, F.col(output_col)),
        )
    return out.withColumn(GROUNDED, F.col(GROUNDING_SCORE) >= threshold)
