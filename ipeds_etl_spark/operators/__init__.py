"""Operator layer: merge, dedup, similarity, bucketing, multimodal,
sketches, quality, sampling, txn. Skew is left to the runtime: AQE's
skew-join split and partial aggregation (see ``session.py``)."""
