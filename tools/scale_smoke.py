#!/usr/bin/env python
"""Scale smoke on replica corpora: 10x sf0.1 (sf1-equivalent) and 100x
sf0.1 (sf10-equivalent) for the output-quadratic operators.

Sections (one process may run several; for clean one-shot timings run
one per fresh process, since a session that just built a corpus
inflates its next timings):

* ``iterative`` — the round-multiplied operators (components
  label/star, graph_stats) on the 10x corpus. If the round count grew
  with corpus size, total cost would be O(rounds x corpus) and the
  sf0.1 bench would extrapolate wrong, so the rounds are reported.
* ``sweep [NAMES...]`` — registered queries (default ``SWEEP``, the
  heavy one-pass families) over the 10x corpus, timed by
  ``bench.time_queries`` (one run: build plus noop-sink execution,
  with the traced build and execution fields), so the measured plan is
  exactly the production plan.
* ``quad [NAMES...]`` — the same over the 100x corpus (default
  ``QUAD``), built when missing, plus each query's output row count
  (``n_rows``, from a separate ``count()`` after the timing). Wall time
  should track the output pair count (clone cliques are quadratic in
  duplication multiplicity by definition), not a superlinear input
  blow-up. Run it with ``DRIVER_MEMORY=48g``: local mode packs every
  task into one JVM.

Corpora: sf0.1 tables replicated with per-replica key offsets; doc text
gets a per-replica prefix. The prefix barely perturbs minhash
signatures, so every doc gains near-clones and the candidate-pair
graph grows superlinearly, a duplication-density stress harsher than a
real 10x corpus. Embeddings keep their vectors (new ids). Dimension
tables are copied once, so the fact/dim ratio grows as in life.

Writes under /tmp and prints one JSON line. SCALE.md records the
results of each run.
"""

from __future__ import annotations

import functools
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from ipeds_etl_spark.operators import dedup as DD  # noqa: E402
from ipeds_etl_spark.operators.components import (  # noqa: E402
    connected_components,
    connected_components_star,
    graph_stats,
)
from ipeds_etl_spark.session import get_spark  # noqa: E402
from ipeds_etl_spark.sources.tables import load_table  # noqa: E402

SRC_DIR = "/root/testdata/sf0.1"
REPLICAS = 10
SF1_DIR = "/tmp/scale_smoke_sf1"
SF10_DIR = "/tmp/scale_smoke_sf10"
QUAD_REPLICAS = 100

#: sweep default: heavy one-pass families whose 10x behavior should be
#: ~linear (scan+shuffle pipelines with no driver-side state)
SWEEP = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "text_lang_id",
    "doc_fingerprint",
    "docs_tfidf_topterms",
    "docs_decontaminate",
    "docs_token_diversity",
    "emb_ivf_topk",
    "emb_near_dups",
    "emb_rp_lsh_near_dups",
]

#: quad default: the pair-producing near-dup operators
QUAD = ["dedup_simhash", "emb_near_dups"]

#: 10x tables: (table, key columns offset per replica, text column
#: prefixed per replica). Each replica keeps its own basket /
#: customer-history / user-timeline shape (per-key work constant, key
#: count and totals 10x); parts and nations stay shared, so the
#: co-purchase graph gets 10x edge multiplicity at fixed nodes.
SF1_TABLES = (
    ("documents", ("doc_id",), "text"),
    ("embeddings", ("vec_id",), None),
    ("lineitem", ("l_orderkey",), None),
    ("orders", ("o_orderkey", "o_custkey"), None),
    ("events", ("event_id", "user_id"), None),
)
SF1_DIMS = ("customer", "part", "supplier", "nation", "region")


def _replicate(
    spark,
    out_dir: str,
    table: str,
    replicas: int,
    n_files: int,
    keys: tuple[str, ...],
    text: str | None = None,
    stride: int = 10_000_000,
) -> None:
    """Write ``replicas`` copies of the source ``table`` as one table:
    copy ``r`` adds ``r * stride`` to each key column and prefixes the
    ``text`` column with ``"replica{r} "``."""
    t = load_table(spark, SRC_DIR, table)

    def copy(r: int):
        return t.select(
            *[
                (F.col(c) + F.lit(r * stride)).alias(c)
                if c in keys
                else F.concat(F.lit(f"replica{r} "), F.col(c)).alias(c)
                if c == text
                else F.col(c)
                for c in t.columns
            ]
        )

    out = functools.reduce(
        lambda a, b: a.unionByName(b), (copy(r) for r in range(replicas))
    )
    out.repartition(n_files).write.parquet(f"{out_dir}/{table}.parquet")


def _fresh_dir(path: str) -> None:
    if Path(path).exists():
        shutil.rmtree(path)
    Path(path).mkdir(parents=True)


def build_corpus(spark) -> None:
    """The 10x corpus under ``SF1_DIR`` (32 files per table, so scans
    start wide)."""
    _fresh_dir(SF1_DIR)
    for table, keys, text in SF1_TABLES:
        _replicate(spark, SF1_DIR, table, REPLICAS, 32, keys, text)
    for dim in SF1_DIMS:
        load_table(spark, SRC_DIR, dim).write.mode("overwrite").parquet(
            f"{SF1_DIR}/{dim}.parquet"
        )


def build_quad_corpus(spark) -> None:
    """The 100x corpus under ``SF10_DIR``: documents, embeddings and
    events (event ids offset per replica, so the id-hashed sketch
    levels are drawn fresh per replica, as at a real 100x)."""
    _fresh_dir(SF10_DIR)
    _replicate(spark, SF10_DIR, "documents", QUAD_REPLICAS, 64, ("doc_id",), "text")
    _replicate(spark, SF10_DIR, "embeddings", QUAD_REPLICAS, 64, ("vec_id",))
    _replicate(
        spark, SF10_DIR, "events", QUAD_REPLICAS, 64, ("event_id",), stride=100_000_000
    )


def run_iterative(spark, results: dict) -> None:
    docs = spark.read.parquet(f"{SF1_DIR}/documents.parquet")
    t0 = time.perf_counter()
    pairs = DD.lsh_candidate_pairs(docs, "text", "doc_id").localCheckpoint()
    n_pairs = pairs.count()
    results["n_pairs"] = n_pairs
    results["pairs_sec"] = round(time.perf_counter() - t0, 2)

    st: dict = {}
    t0 = time.perf_counter()
    connected_components(pairs, stats=st).write.format("noop").mode("overwrite").save()
    results["label"] = {"sec": round(time.perf_counter() - t0, 2), "rounds": st["rounds"]}

    st = {}
    t0 = time.perf_counter()
    connected_components_star(pairs, stats=st).write.format("noop").mode(
        "overwrite"
    ).save()
    results["star"] = {"sec": round(time.perf_counter() - t0, 2), "rounds": st["rounds"]}

    t0 = time.perf_counter()
    graph_stats(pairs).write.format("noop").mode("overwrite").save()
    results["graph_stats_sec"] = round(time.perf_counter() - t0, 2)


def run_queries(spark, names: list[str], sf_dir: str) -> dict:
    """One traced run of each query through ``bench.time_queries``."""
    import bench

    rows, errors = bench.time_queries(spark, names, sf_dir, 1)
    return {"rows": rows, "errors": errors}


def run_quad(spark, names: list[str]) -> dict:
    """``run_queries`` over the 100x corpus, with each timed query's
    output row count: the pair frame is the product, and its count is
    what the wall time is read against."""
    from ipeds_etl_spark import queries as q

    out = run_queries(spark, names, SF10_DIR)
    registered = q.queries()
    for name, row in out["rows"].items():
        row["n_rows"] = registered[name](spark, SF10_DIR).count()
    return out


SECTIONS = ("iterative", "sweep", "quad")


def main() -> int:
    sections: dict[str, list[str]] = {}
    section = None
    for arg in sys.argv[1:] or ["iterative", "sweep"]:
        if arg in SECTIONS:
            section = arg
            sections.setdefault(arg, [])
        elif section in ("sweep", "quad"):
            sections[section].append(arg)
        else:
            print(
                "usage: python tools/scale_smoke.py "
                "[iterative] [sweep [NAMES...]] [quad [NAMES...]]",
                file=sys.stderr,
            )
            return 2
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    # generic warm-up (JVM codegen, shuffle machinery), so the first
    # timed query is not billed for it
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    results: dict = {}
    # before the 10x build: a session that just built a corpus inflates
    # one-shot timings
    if "quad" in sections:
        if not Path(SF10_DIR).exists():
            build_quad_corpus(spark)
        results["quad"] = run_quad(spark, sections["quad"] or QUAD)
    if "iterative" in sections or "sweep" in sections:
        build_corpus(spark)  # always fresh: stale /tmp corpora lie
        results["n_docs"] = spark.read.parquet(f"{SF1_DIR}/documents.parquet").count()
    if "iterative" in sections:
        run_iterative(spark, results)
    if "sweep" in sections:
        results["sweep"] = run_queries(spark, sections["sweep"] or SWEEP, SF1_DIR)
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
