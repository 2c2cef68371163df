"""Third-implementation cross-checks for the corpus-hygiene queries.

The driver gate already compares Spark vs DuckDB; these tests add an
INDEPENDENT pure-Python reference (plain dicts/sets over the same
parquet) so a shared misconception between the two SQL formulations
cannot slip through — the statistic definitions live here in ~20 lines
of obvious Python.
"""

from __future__ import annotations

import hashlib
import re

import pyarrow.parquet as pq
import pytest

from ipeds_etl_spark.queries.curation import q_docs_repetition_filters
from ipeds_etl_spark.queries.dedup import q_docs_decontaminate
from ipeds_etl_spark.queries.text import q_docs_token_diversity

SF_DIR = "/root/testdata/sf0.001"


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text) if t]


def _shingles(w: list[str], k: int) -> list[str]:
    if len(w) < k:
        return [" ".join(w)]
    return [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]


def _parity_hash(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:10], 16)


@pytest.fixture(scope="module")
def docs():
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    return dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))


def test_repetition_filters_match_python(spark, docs):
    out = {
        r["doc_id"]: r
        for r in q_docs_repetition_filters(spark, SF_DIR).collect()
    }
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        w = _tokens(text)
        r = out[doc_id]
        assert r["n_tokens"] == len(w)
        consec = sum(1 for a, b in zip(w, w[1:]) if a == b)
        assert r["consec_dup_frac"] == pytest.approx(consec / (len(w) - 1))
        bgs = _shingles(w, 2)
        top = max(bgs.count(g) for g in set(bgs))
        assert r["top_bigram_frac"] == pytest.approx(top / len(bgs))
        tgs = _shingles(w, 3)
        dup = (len(tgs) - len(set(tgs))) / len(tgs)
        assert r["dup_trigram_frac"] == pytest.approx(dup)
        assert r["keep"] == (top / len(bgs) <= 0.18 and dup <= 0.30)


def test_token_diversity_matches_python(spark, docs):
    out = {
        r["doc_id"]: r for r in q_docs_token_diversity(spark, SF_DIR).collect()
    }
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        w = _tokens(text)
        counts = {t: w.count(t) for t in set(w)}
        r = out[doc_id]
        assert r["n_tokens"] == len(w)
        assert r["n_distinct"] == len(counts)
        assert r["type_token_ratio"] == pytest.approx(len(counts) / len(w))
        simpson = 1.0 - sum(n * n for n in counts.values()) / len(w) ** 2
        assert r["simpson_index"] == pytest.approx(simpson)


def test_decontaminate_matches_python(spark, docs):
    out = {
        r["doc_id"]: r for r in q_docs_decontaminate(spark, SF_DIR).collect()
    }
    eval_hashes: set[int] = set()
    for doc_id, text in docs.items():
        if doc_id < 20:
            eval_hashes |= {
                _parity_hash(g) for g in _shingles(_tokens(text), 3)
            }
    train = {d: t for d, t in docs.items() if d >= 20}
    assert set(out) == set(train)
    for doc_id, text in train.items():
        sh = {_parity_hash(g) for g in _shingles(_tokens(text), 3)}
        r = out[doc_id]
        assert r["n_shingles"] == len(sh)
        assert r["n_hit"] == len(sh & eval_hashes)
        assert r["overlap_frac"] == pytest.approx(len(sh & eval_hashes) / len(sh))
        assert r["contaminated"] == (len(sh & eval_hashes) / len(sh) >= 0.8)
