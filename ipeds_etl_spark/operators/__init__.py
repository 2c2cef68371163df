"""Operator layer: merge, dedup, similarity, skew, bucketing, multimodal,
sketches, quality, sampling, txn."""
