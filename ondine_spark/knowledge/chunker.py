"""Document chunking (F13/F14).

Reference semantics (ondine/knowledge/chunker.py:19-158): sentence split on
``[.!?]\\s+``; fixed-window chunks capped at ``max_chunk_tokens``; semantic
chunking embeds sentences and breaks where adjacent similarity drops below a
percentile threshold.

Spark-first: everything here is window functions + higher-order array
expressions — no Python in the hot path, so chunking 100 TB of documents is
one shuffle (by document) and stays in whole-stage codegen. Sentence
"embeddings" for the semantic breakpoints are hashed char-3gram bucket sets
(md5-portable, see functions/similarity.py), so the whole operator is
reproducible in ANSI SQL for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ondine_spark.functions.similarity import md5_long

SENTENCE_SPLIT_RE = r"(?<=[.!?])\s+"


def split_sentences_sql(text: str) -> str:
    """:func:`split_sentences` as a Spark SQL expression over the SQL
    expression ``text`` — the one definition of the sentence split, which
    grounding embeds in its one score expression."""
    regex = SENTENCE_SPLIT_RE.replace("\\", "\\\\")
    return f"filter(split({text}, '{regex}'), se -> trim(se) != '')"


def split_sentences(col: str) -> Column:
    """array<string> of the sentences of column ``col``. The reference
    splits on ``[.!?]\\s+`` (dropping the terminator); we use a lookbehind
    so terminators are kept — chunk text then reconstructs verbatim, which
    the reference's join(" ") does not guarantee. Documented divergence,
    strictly less lossy."""
    return F.expr(split_sentences_sql("`" + col.replace("`", "``") + "`"))


def sentence_frame(
    df: DataFrame, id_col: str, text_col: str,
    max_sentence_tokens: int | None = None,
) -> DataFrame:
    """Explode documents into (id, sent_idx, sentence, sent_tokens).

    With ``max_sentence_tokens`` set, sentences over the budget are further
    split into word windows of that size (the reference's fixed-window
    fallback for unsplittable text, ondine/knowledge/chunker.py:119-158) —
    still pure array exprs, one nested posexplode."""
    # spread before the sentence split (r8): downstream per-sentence CPU
    # (the semantic chunker's md5 bucket sets, token counts) runs BELOW
    # the first per-doc window exchange, so a single-file local scan
    # would compute it all on one core (no-op on cluster scans)
    from ondine_spark.core.partitioning import spread_small

    s = spread_small(df).select(
        F.col(id_col),
        F.posexplode(split_sentences(text_col)).alias("sent_idx", "sentence"),
    )
    if max_sentence_tokens:
        m = max_sentence_tokens
        toks = F.split(F.trim(F.col("sentence")), r"\s+")
        n_pieces = F.greatest(
            F.ceil(F.size(toks) / F.lit(m)).cast("int"), F.lit(1)
        )
        pieces = F.transform(
            F.sequence(F.lit(0), n_pieces - 1),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * m + 1, F.lit(m))
            ),
        )
        s = s.select(
            F.col(id_col),
            F.col("sent_idx"),
            F.posexplode(pieces).alias("piece_idx", "piece"),
        ).select(
            F.col(id_col),
            # dense order over (sentence, piece); pieces per sentence are
            # bounded by text length so 1e6 keys never collide
            (F.col("sent_idx") * 1_000_000 + F.col("piece_idx")).alias("sent_idx"),
            F.col("piece").alias("sentence"),
        )
    return s.withColumn(
        "sent_tokens", F.size(F.split(F.trim(F.col("sentence")), r"\s+"))
    )


def _chunk_assembly(sent: DataFrame, id_col: str) -> DataFrame:
    """(id, chunk_seq ordered sentences) → one row per chunk with stable
    chunk_id = md5_long(doc_id:chunk_idx)."""
    grouped = (
        sent.groupBy(id_col, "chunk_idx")
        .agg(
            F.concat_ws(
                " ", F.transform(F.array_sort(
                    F.collect_list(F.struct("sent_idx", "sentence"))
                ), lambda x: x["sentence"])
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum("sent_tokens").alias("chunk_tokens"),
        )
    )
    return grouped.withColumn(
        "chunk_id",
        md5_long(F.concat(F.col(id_col).cast("string"), F.lit(":"),
                          F.col("chunk_idx").cast("string"))),
    )


def fixed_chunks(
    df: DataFrame, id_col: str, text_col: str, max_tokens: int = 128
) -> DataFrame:
    """Greedy token-budget chunking via running token count:
    ``chunk_idx = floor((cumsum(tokens) - tokens) / max_tokens)`` — the
    sentence that crosses the budget starts inside the current chunk (the
    reference's greedy packer closes the chunk first; boundary placement can
    differ by one sentence — documented, same bound semantics). One window
    per document, no Python."""
    sent = sentence_frame(df, id_col, text_col, max_sentence_tokens=max_tokens)
    w = Window.partitionBy(id_col).orderBy("sent_idx")
    sent = sent.withColumn(
        "chunk_idx",
        ((F.sum("sent_tokens").over(w) - F.col("sent_tokens")) / max_tokens)
        .cast("long"),
    )
    return _chunk_assembly(sent, id_col)


def _bucket_set(col: Column, n: int = 3, dim: int = 512) -> Column:
    """Distinct md5 char-ngram buckets of a sentence — the binary 'embedding'
    used for adjacent-sentence similarity (portable to SQL)."""
    from ondine_spark.functions.similarity import char_ngrams

    return F.array_distinct(
        F.transform(char_ngrams(col, n), lambda g: md5_long(g) % dim)
    )


def binary_cosine(a: Column, b: Column) -> Column:
    """Cosine over binary bucket sets: |A∩B| / sqrt(|A|·|B|)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    denom = F.sqrt(F.size(a).cast("double") * F.size(b).cast("double"))
    return F.when(denom == 0, F.lit(0.0)).otherwise(inter / denom)


def semantic_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    breakpoint_percentile: float = 0.25,
    max_tokens: int = 256,
) -> DataFrame:
    """Semantic chunking (F14): break where adjacent-sentence similarity
    falls below the per-document ``breakpoint_percentile`` of all adjacent
    similarities, with a hard ``max_tokens`` cap as fallback (reference:
    ondine/knowledge/chunker.py:35-158, which embeds sentences; here the
    similarity is hashed-ngram binary cosine so the operator is
    deterministic, JVM-only, and oracle-checkable).

    Plan shape: one shuffle by document; two windows (lag + running sum).
    """
    # piece-split over-budget sentences first (the reference's fixed-window
    # cap fallback applies to semantic chunking too)
    sent = sentence_frame(
        df, id_col, text_col, max_sentence_tokens=max_tokens
    ).withColumn("_buckets", _bucket_set(F.col("sentence")))
    w = Window.partitionBy(id_col).orderBy("sent_idx")
    sent = sent.withColumn("_prev", F.lag("_buckets").over(w))
    sent = sent.withColumn(
        "_sim",
        F.when(F.col("_prev").isNull(), F.lit(None)).otherwise(
            binary_cosine(F.col("_prev"), F.col("_buckets"))
        ),
    )
    # exact percentile over the document's adjacent sims (deterministic)
    wd = Window.partitionBy(id_col)
    sent = sent.withColumn(
        "_threshold", F.percentile("_sim", F.lit(breakpoint_percentile)).over(wd)
    )
    # boundary: similarity at or below the percentile (inclusive — with ties
    # at the bottom, strict < would never fire; the reference's
    # percentile-of-distances formulation is inclusive of the breakpoint set)
    sent = sent.withColumn(
        "_sem_break",
        F.when(
            F.col("_sim").isNotNull() & (F.col("_sim") <= F.col("_threshold")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    # running token budget resets per semantic segment: segment id first,
    # then a fixed-budget split inside each segment (cap fallback)
    sent = sent.withColumn("_seg", F.sum("_sem_break").over(w))
    wseg = Window.partitionBy(id_col, "_seg").orderBy("sent_idx")
    sent = sent.withColumn(
        "_sub",
        ((F.sum("sent_tokens").over(wseg) - F.col("sent_tokens")) / max_tokens)
        .cast("long"),
    )
    # dense chunk index per document over (segment, sub-chunk)
    sent = sent.withColumn(
        "chunk_idx", F.dense_rank().over(w.orderBy("_seg", "_sub")) - 1
    )
    return _chunk_assembly(sent, id_col)
