from ondine_spark.context.grounding import grounding_scores
from ondine_spark.context.contradiction import contradiction_edges, detect_contradictions
from ondine_spark.context.confidence import confidence_scores
from ondine_spark.context.store import ClaimStore

__all__ = [
    "grounding_scores",
    "detect_contradictions",
    "contradiction_edges",
    "confidence_scores",
    "ClaimStore",
]
