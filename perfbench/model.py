"""The scoring model the benchmark logs with feature-lookup lineage.

Kept in its own small module: ``score_batch`` pickles the model into a
pandas UDF, so Python workers import this module by name.
"""

from __future__ import annotations


class LinearScorer:
    """Predicts 1.0 when a weighted sum of the features exceeds a
    threshold (missing features count as 0)."""

    def __init__(self, weights: list[float], threshold: float):
        self.weights = list(weights)
        self.threshold = threshold

    def predict(self, feats):
        score = feats.fillna(0.0).to_numpy(dtype=float) @ self.weights
        return (score > self.threshold).astype(float)
