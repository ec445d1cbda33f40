"""Context/verification layer tests (V1-V4) against python oracles."""

import pytest
from pyspark.sql import functions as F

from ondine_spark.context import (
    ClaimStore,
    confidence_scores,
    contradiction_edges,
    detect_contradictions,
    grounding_scores,
)
from ondine_spark.functions.similarity import tfidf_pair_cosine


ROWS = [
    # (_row_id, output, source)
    (1, "the fox jumps over the dog",
     "The quick brown fox jumps over the lazy dog. Cats sleep all day."),
    (2, "completely unrelated text about quantum physics",
     "The quick brown fox jumps over the lazy dog. Cats sleep all day."),
    (3, "cats sleep all day", "Cats sleep all day. Dogs bark at night."),
    (4, "", "Some source text here."),
    (5, None, "The fox runs. A dog sleeps."),
    (6, "the fox runs", None),
    (7, "the fox runs", ""),
    (8, "Le café crème à Zürich, naïve résumé",
     "Le café est à Zürich! Ein naïve Résumé? Crème brûlée."),
    (9, "fox fox fox dog dog the",
     "Fox fox dog dog dog dog the. The the fox, the fox."),
    (10, " ".join(f"w{i * 7 % 53} x{i % 11}" for i in range(100)),
     " ".join(f"w{i} x{i % 5}." for i in range(40))
     + " " + " ".join(f"w{i * 3 % 53}" for i in range(60)) + "."),
]


def _oracle_score(output, source):
    import re
    sents = [s for s in re.split(r"(?<=[.!?])\s+", source or "") if s.strip()]
    return max((tfidf_pair_cosine(output or "", s) for s in sents), default=0.0)


def test_grounding_matches_reference_tfidf_oracle(spark):
    df = spark.createDataFrame(ROWS, ["_row_id", "answer", "src"])
    got = {
        r["_row_id"]: r
        for r in grounding_scores(df, "answer", "src", threshold=0.3).collect()
    }
    for rid, out, src in ROWS:
        want = _oracle_score(out, src)
        assert got[rid]["_grounding_score"] == pytest.approx(want, abs=1e-9), rid
        assert got[rid]["_grounded"] == (want >= 0.3)
    assert got[1]["_grounded"] is True
    assert got[2]["_grounded"] is False


def test_grounding_discard_nulls_output(spark):
    df = spark.createDataFrame(ROWS, ["_row_id", "answer", "src"])
    got = {
        r["_row_id"]: r
        for r in grounding_scores(
            df, "answer", "src", threshold=0.3, on_fail="discard"
        ).collect()
    }
    assert got[1]["answer"] is not None
    assert got[2]["answer"] is None


def test_grounding_score_builds_as_one_sql_expression(spark, monkeypatch):
    """The score is one parsed SQL expression: building it makes no
    Python-side higher-order-function call (each is a py4j round trip
    that builds a JVM lambda)."""
    from pyspark.sql.functions import builtin

    calls = []
    real = builtin._invoke_higher_order_function

    def counting(name, *a, **k):
        calls.append(name)
        return real(name, *a, **k)

    monkeypatch.setattr(builtin, "_invoke_higher_order_function", counting)
    df = spark.createDataFrame(ROWS, ["_row_id", "answer", "src"])
    out = grounding_scores(df, "answer", "src", threshold=0.3)
    assert calls == []
    assert out.filter(F.col("_grounded")).count() > 0


@pytest.mark.parametrize("names", [("tl", "s_l"), ("g", "ts"), ("a`b", "c.d")])
def test_grounding_column_names_never_shadow_lambda_variables(spark, names):
    """Column names equal to the score's lambda variables, or needing
    quotes, score exactly like plain names."""
    def scores(out_col, src_col):
        df = spark.createDataFrame(ROWS, ["_row_id", out_col, src_col])
        return {
            r["_row_id"]: r["_grounding_score"]
            for r in grounding_scores(df, out_col, src_col).collect()
        }

    assert scores(*names) == scores("answer", "src")


def test_contradiction_exact_and_tolerance(spark):
    df = spark.createDataFrame(
        [
            (1, "acme", "100.0"),
            (2, "acme", "100.4"),
            (3, "globex", "50"),
            (4, "globex", "80"),
            (5, "initech", "7"),
            # a null key belongs to no group: never flagged
            (6, None, "1"),
            (7, None, "2"),
            (8, "hooli", "9"),
            (9, "hooli", "9"),
        ],
        ["_row_id", "company", "revenue"],
    ).withColumn(
        "ceo", F.when(F.col("_row_id") == 9, "eve").otherwise(F.lit("ann"))
    )
    exact = {
        r["_row_id"]: r["_contradiction"]
        for r in detect_contradictions(df, ["company"], ["revenue"]).collect()
    }
    assert exact == {1: True, 2: True, 3: True, 4: True, 5: False,
                     6: False, 7: False, 8: False, 9: False}
    tol = {
        r["_row_id"]: r["_contradiction"]
        for r in detect_contradictions(
            df, ["company"], ["revenue"], tolerance=0.05
        ).collect()
    }
    # 100.0 vs 100.4 within 5% → not a contradiction; 50 vs 80 is
    assert tol == {1: False, 2: False, 3: True, 4: True, 5: False,
                   6: False, 7: False, 8: False, 9: False}
    # any value column disagreeing flags the group; the non-numeric ceo
    # column falls back to exact distinctness under a tolerance
    both = {
        r["_row_id"]: r["_contradiction"]
        for r in detect_contradictions(
            df, ["company"], ["revenue", "ceo"], tolerance=0.05
        ).collect()
    }
    assert both == {1: False, 2: False, 3: True, 4: True, 5: False,
                    6: False, 7: False, 8: True, 9: True}

    edges = contradiction_edges(df, "_row_id", ["company"], ["revenue"], 0.05)
    got = {(r["id_a"], r["id_b"]) for r in edges.collect()}
    assert got == {(3, 4), (4, 3)}  # symmetric pairs


def test_confidence_modes(spark):
    df = spark.createDataFrame(
        [(1, 0.8, 3), (2, 0.1, 0), (3, 1.0, 10)],
        ["_row_id", "_grounding_score", "_evidence_count"],
    )
    got = {r["_row_id"]: r["_confidence_score"] for r in confidence_scores(df).collect()}
    assert got[1] == pytest.approx(0.8 * 0.7 + 3 / 5 * 0.3)
    assert got[2] == pytest.approx(0.1 * 0.7)
    assert got[3] == pytest.approx(1.0)  # capped at 1 (0.7 + 0.3)
    gonly = {
        r["_row_id"]: r["_confidence_score"]
        for r in confidence_scores(df, mode="grounding_only").collect()
    }
    assert gonly[1] == pytest.approx(0.8)


def test_claim_store_roundtrip_and_priming(spark, tmp_path):
    store = ClaimStore(spark, str(tmp_path / "evidence"))
    df = spark.createDataFrame(
        [
            (1, "what is the capital of france", "Paris"),
            (2, "what is the capital of spain", "Madrid"),
            (3, "capital of france", "Paris"),
        ],
        ["_row_id", "question", "answer"],
    )
    store.store_claims(df, ["question"], "answer", session_id="s1")
    assert store.claims().count() == 3

    hits = store.retrieve("capital of france", top_k=2).collect()
    assert len(hits) == 2
    assert all("france" in h["text"].lower() for h in hits)

    primed = store.attach_evidence(
        spark.createDataFrame([(9, "france capital")], ["_row_id", "q"]),
        ["q"], top_k=2,
    ).collect()[0]
    assert primed["_evidence_count"] == 2
    assert "paris" in primed["_evidence_context"].lower()

    support = {
        r["_row_id"]: r["_support"]
        for r in store.support_counts(df, "answer").collect()
    }
    assert support == {1: 2, 2: 1, 3: 2}

    # idempotent claim ids: storing the same rows again doesn't duplicate
    store.store_claims(df, ["question"], "answer", session_id="s1")
    assert store.claims().count() == 3


def test_zep_claim_store_mirror_and_search(spark):
    """U7 Zep backend: claims stream into the graph via toLocalIterator
    (bounded by max_claims) and searches parse edges then nodes."""
    from types import SimpleNamespace

    from ondine_spark.context.zep_store import ZepClaimStore

    class FakeGraph:
        def __init__(self):
            self.added = []

        def add(self, graph_id, type, data):
            self.added.append((graph_id, type, data))

        def search(self, graph_id, query, scope, limit):
            return SimpleNamespace(
                edges=[SimpleNamespace(fact="a relates to b", score=0.9,
                                       name="e1")],
                nodes=[SimpleNamespace(summary="node summary", score=0.5,
                                       name="n1")],
            )

    class FakeZep:
        def __init__(self):
            self.graph = FakeGraph()

    fake = FakeZep()
    store = ZepClaimStore("g1", client=fake, max_claims=3)
    claims = spark.createDataFrame(
        [(f"claim text {i}",) for i in range(5)], "output_text string"
    )
    sent = store.mirror_claims(claims)
    assert sent == 3  # spend guard respected
    assert all(g == "g1" and t == "text" for g, t, _ in fake.graph.added)

    hits = store.search("what relates to b?", limit=2)
    assert hits[0]["text"] == "a relates to b"
    assert hits[0]["score"] == 0.9
    assert len(hits) == 2


def test_zep_claim_store_import_guard(monkeypatch):
    import builtins

    real_import = builtins.__import__

    def no_zep(name, *a, **k):
        if name.startswith("zep_cloud"):
            raise ImportError(name)
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_zep)
    from ondine_spark.context.zep_store import ZepClaimStore

    with pytest.raises(ImportError, match="zep-cloud"):
        ZepClaimStore("g1")
