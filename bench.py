#!/usr/bin/env python
"""Benchmark runner for the registered queries at $SPARK_GRAFT_SF_DIR.

Final stdout is a COMPACT one-line JSON summary, printed twice, that
stays inside a bounded stdout tail (``BENCH_LINE_BUDGET``):

    {"metric": "suite_total_runtime", "value": N, "unit": "sec",
     "sf": ..., "n_queries": ..., "index_build_total": ..., ...}

The full per-query map, with the traced fields of each query, is
written to ``BENCH_SUMMARY.json`` and appended to
``BENCH_QUERIES.jsonl``.

Every measurement goes through ``time_queries``: the median wall time
of a query's build plus its noop-sink execution (full computation, no
collect), with the build and execution of each run traced by
``perfbench.tracer``. The parent only spawns captured child processes,
each a fresh JVM that runs ``_child`` on one spec (query list, sf
directory, runs, optional engine root, whether to run the calibration
probe, part file) and writes a part file; the parent merges the parts.

Usage:
    python bench.py                 # suite (+ isolates + sf1 track)
    python bench.py --isolate NAME  # one query, fresh session; appends
                                    # to BENCH_ISOLATE.json
    python bench.py --paired REV    # interleaved A/B against the engine
                                    # code at git rev REV, with an A/A
                                    # band; appends to BENCH_PAIRED.json
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from perfbench.tracer import Tracer  # noqa: E402

#: Headline suite: one representative per operator family (scan+agg,
#: window/top-1, multi-join, broadcast rollup, top-k, scalar cleaning,
#: JSON round-trip, keyed merge, hashing).
HEADLINE = [
    "kpi_yearly",
    "latest_per_key_agg",
    "enrich_join",
    "dim_lookup_agg",
    "filter_between_topk",
    "sentinel_clean",
    "json_page_roundtrip",
    "upsert_on_pk",
    "stable_hash",
    # training-data extension track
    "text_quality",
    "text_lang_id",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "emb_topk_bruteforce",
    "emb_ivf_topk",
    "events_window_hourly",
    "events_sessionize",
    "multimodal_features",
]

#: Excluded from the suite: each embeds an O(n²) brute-force gold
#: standard that only exists to calibrate a scalable operator at oracle
#: scale, so timing it times the verifier, not a production path. Their
#: correctness rows come from the oracle sweep like every other query.
EXCLUDED = {
    "dedup_minhash_recall": "O(n²) exact-Jaccard gold standard",
    "dedup_blocking_union_recall": "O(n²) exact-Jaccard gold standard",
    "emb_ivf_recall": "O(n²) brute-force neighbor gold standard",
    "emb_pq_recall": "O(n²) brute-force neighbor gold standard",
    "emb_rp_lsh_recall": "O(n²) brute-force neighbor gold standard",
    "emb_rp_lsh_banded_recall": "O(n²) brute-force neighbor gold standard",
    "dedup_bcubed_eval": "O(n²) exact-Jaccard truth clustering gold standard",
    "emb_ivf_probe_sweep": "O(n²) brute-force neighbor gold standard (3-arm sweep)",
    "emb_ivfpq_recall": "O(n²) brute-force neighbor gold standard",
    "emb_ivfpq_residual_recall": "O(n²) brute-force neighbor gold standard",
    "emb_sq8_recall": "O(n²) brute-force neighbor gold standard",
    "emb_ivfpq_filtered_recall": "O(n²) brute-force neighbor gold standard",
    "emb_ivfpq_filtered_sweep": (
        "O(n²) brute-force neighbor gold standard (9-arm "
        "selectivity × n_probe sweep)"
    ),
}

SUITE_CRITERION = (
    "The suite is the registry minus EXCLUDED; a full run times HEADLINE, "
    "SF1_FORCE_INCLUDE and one BENCH_ROTATE-th slice of the rest (the slice "
    "advances through BENCH_ROTATION.json unless BENCH_ROTATE_PIN is set, "
    "which re-times that slice), split across "
    "BENCH_CHUNKS fresh child JVMs. A query's time is the median over "
    "BENCH_RUNS runs of its build plus a noop-sink execution, taken after "
    "the BUILD_ONCE indexes are built cold in each chunk and billed under "
    "index_builds as their per-index median across chunks. calib_cpu_s and "
    "calib_scan_s are fixed-workload probes for comparing totals across "
    "sessions, and the compact line carries a BENCH_LINE_BUDGET-bounded "
    "prefix of the per-query medians."
)

SF1_CRITERION = (
    "When the suite runs at sf0.1, the BENCH_SF1_TOP heaviest queries by "
    "last-known sf0.1 median (minus SF1_EXCLUDED, plus SF1_FORCE_INCLUDE) "
    "are re-timed on the 10x key-offset replica corpus "
    "(tools/scale_smoke.py build_corpus, reused while its stamp matches) as "
    "the median of BENCH_SF1_RUNS runs in BENCH_SF1_CHUNKS fresh child JVMs. "
    "Its index builds are billed under index_builds_sf1, and its "
    "AUTO_ISOLATE_TOP heaviest queries get solo fresh-JVM medians in "
    "BENCH_ISOLATE.json. BENCH_SF1=0 disables the track."
)

#: A query whose scale story only registers at 10x: timed in every sf0.1
#: slice and always in the sf1 list.
SF1_FORCE_INCLUDE = {
    "parts_copurchase_3hop_bfs",
    "docs_cdc_dedup_rewrite",
    "events_value_qsketch",
    "emb_ivfpq_topk",
    "emb_ivfpq_residual_topk",
    "emb_sq8_topk",
    "emb_ivfpq_filtered_topk",
    "docs_vocab_apply_fertility",
    "emb_semantic_decontaminate",
    "emb_incremental_decontaminate",
    "docs_vocab8k_apply_fertility",
}

#: After each track, its top-N heaviest queries are re-timed solo
#: (fresh JVM each) and appended to BENCH_ISOLATE.json.
AUTO_ISOLATE_TOP = 5

#: sf1-track exclusions beyond EXCLUDED (measured, not speculative):
SF1_EXCLUDED = {
    "parts_copurchase_3hop": (
        "UNION ALL recursion enumerates paths (O(deg^3) by its stated "
        "contract), and the 10x-denser sf1 co-purchase graph exceeds "
        "Spark's 1M-row cteRecursionRowLimit; its level-synchronous BFS "
        "twin parts_copurchase_3hop_bfs (same oracle) carries the sf1 row"
    ),
}

#: The per-query fields ``time_queries`` reads from the tracer spans
#: (each the median over the query's runs).
TRACE_FIELDS = ("build_ms", "build_jobs", "exec_task_s", "exec_jobs", "shuffle_bytes")


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _suite_list() -> list[str]:
    from ipeds_etl_spark import queries as q

    registered = q.queries()
    return HEADLINE + sorted(
        n for n in registered if n not in HEADLINE and n not in EXCLUDED
    )


#: Stdout-line budget. A caller that keeps only a ~2000-char tail of
#: stdout parses the last JSON line in it; an unbounded per-query map pushed
#: the line past the tail once (BENCH_r04.json: parsed null). The
#: per-query map on the line is therefore a bounded prefix (see
#: compact_query_map); the full map lives in BENCH_SUMMARY.json and
#: BENCH_QUERIES.jsonl.
BENCH_LINE_BUDGET = 1900


def compact_query_map(
    timings: dict[str, float], priority: list[str], room: int
) -> dict[str, float]:
    """Largest prefix of the per-query medians whose JSON encoding fits
    in ``room`` chars.

    Order: ``priority`` names first (HEADLINE + force-includes, timed
    every run, so consecutive runs intersect on them), then the
    remaining queries heaviest-first. Stops at the first entry that
    does not fit, so the emitted set is deterministic."""
    seen = set()
    order = [n for n in priority if n in timings and not (n in seen or seen.add(n))]
    order += sorted(
        (n for n in timings if n not in seen), key=lambda n: (-timings[n], n)
    )
    out: dict[str, float] = {}
    for n in order:
        cand = dict(out)
        cand[n] = timings[n]
        if len(json.dumps(cand)) > room:
            break
        out = cand
    return out


def resolve_rotation(state_path, rotate: int, pin: str | None) -> tuple[int, bool]:
    """Which sf0.1 rotation slice this run times, and whether it may
    advance the shared rotation state.

    * ``pin`` (env BENCH_ROTATE_PIN) forces that slice, never advances:
      it is how a re-run (a scaling arm, a diagnosis) re-times a slice.
    * Otherwise: the successor slice, advancing state, whatever box
      wrote the state. The caller writes the state file."""
    if pin is not None:
        return int(pin) % rotate, False
    return next_rotation_slice(state_path, rotate), True


def next_rotation_slice(state_path, rotate: int) -> int:
    """The slice the next run must time: successor (mod ``rotate``) of
    the recorded slice, 0 when there is no valid state. A stuck slice
    would re-time one third forever and still look complete."""
    prev = -1
    if state_path.exists():
        try:
            prev = int(json.loads(state_path.read_text())["slice"])
        except (ValueError, KeyError, OSError):
            prev = -1
    return (prev + 1) % rotate


def rotation_plan(
    suite_all: list[str], always: set[str], rotate: int, slice_idx: int
) -> list[str]:
    """The sf0.1 suite slice for one full run: ``always`` every run,
    plus every ``rotate``-th remaining query by position, so ``rotate``
    consecutive runs cover the whole registry, each name landing in
    exactly one slice."""
    tail = [n for n in suite_all if n not in always]
    keep = (always & set(suite_all)) | {
        n for i, n in enumerate(tail) if i % rotate == slice_idx
    }
    return [n for n in suite_all if n in keep]


def _warm_session(sf_dir: str):
    """Fresh session, generic warm-up (JVM codegen, shuffle machinery,
    parquet vectorized-reader classpath). Billing class loading to the
    first measured query would misstate its cost."""
    from ipeds_etl_spark.session import get_spark

    spark = get_spark("ipeds_etl_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").limit(1).collect()
    return spark


def _build_indexes(spark, sf_dir: str) -> dict[str, float]:
    """Cold-build the memoized shared indexes (``indexes.BUILD_ONCE``,
    in its order); returns build seconds. Every caller runs it first
    thing in a fresh session, where the memo store holds nothing of
    that session yet. A DataFrame artifact is also scanned once; the
    codebooks, bounds and vocabulary are driver-side lists, so timing
    the call is the build cost. Per-query lines then measure search /
    apply only, not training."""
    from pyspark.sql import DataFrame

    from ipeds_etl_spark.operators import indexes as IDX

    builds: dict[str, float] = {}
    for label, builder in IDX.BUILD_ONCE:
        t0 = time.perf_counter()
        out = builder(spark, sf_dir)
        if isinstance(out, DataFrame):
            out.write.format("noop").mode("overwrite").save()
        builds[label] = round(time.perf_counter() - t0, 3)
    return builds


def time_queries(
    spark, names: list[str], sf_dir: str, n_runs: int
) -> tuple[dict[str, dict], dict[str, str]]:
    """Time registered queries at ``sf_dir``: ``n_runs`` runs of each
    query's build plus a noop-sink execution, each inside
    ``perfbench.tracer`` spans (build, execution).

    Returns ``(rows, errors)``. ``rows[name]`` holds ``wall_s``, the
    median wall seconds (the suite's number), the per-run ``samples``
    and the median of each ``TRACE_FIELDS`` entry. A query that raises,
    or is not registered, lands in ``errors`` with the first line of
    its message, and the others are still timed. The tracer is
    collected once per query: the status store keeps only
    ``spark.ui.retainedJobs`` jobs, fewer than a long list runs."""
    from ipeds_etl_spark import queries as q

    def med(spans, field):
        return statistics.median(getattr(s, field) for s in spans)

    registered = q.queries()
    rows: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        if name not in registered:
            errors[name] = "not registered"
            continue
        tracer = Tracer(spark)
        walls = []
        try:
            for _ in range(n_runs):
                t0 = time.perf_counter()
                with tracer.span("build"):
                    df = registered[name](spark, sf_dir)
                with tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 - recorded per query
            errors[name] = str(e).split("\n")[0][:200]
            continue
        tracer.collect()
        builds, execs = tracer.spans[0::2], tracer.spans[1::2]
        rows[name] = {
            "wall_s": round(statistics.median(walls), 3),
            "samples": [round(w, 3) for w in walls],
            "build_ms": round(med(builds, "ms"), 1),
            "build_jobs": med(builds, "jobs"),
            "exec_task_s": round(med(execs, "task_s"), 3),
            "exec_jobs": med(execs, "jobs"),
            "shuffle_bytes": med(execs, "shuffle_bytes"),
        }
    return rows, errors


#: Box calibration: same-code suite totals have ranged 0.92x-1.44x
#: across sessions on the same box. Two fixed probes give a recorded
#: denominator: a single-thread CPU hash (no JVM; clock/steal) and a
#: fixed parquet scan-agg in every child JVM (IO, page cache, JVM;
#: median across chunks). Compare suites as total/calib, not total.
_CALIB_HASH_ITERS = 400  # x 1 MiB = 400 MiB hashed


def _cpu_probe() -> float:
    """Seconds to sha256 400 MiB single-threaded (fixed workload)."""
    import hashlib

    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    for _ in range(_CALIB_HASH_ITERS):
        hashlib.sha256(buf).digest()
    return round(time.perf_counter() - t0, 3)


def _spark_probe(spark, sf_dir: str) -> float:
    """Seconds for a fixed lineitem scan-agg (3 runs, median)."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
            "sum(l_extendedprice)", "sum(l_quantity)", "count(*)"
        ).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


_SF1_DIR_DEFAULT = "/tmp/scale_smoke_sf1"


def _sf1_dir() -> str:
    return os.environ.get("BENCH_SF1_DIR", _SF1_DIR_DEFAULT)


#: The corpus build that ``_ensure_sf1_corpus`` runs in a fresh process
#: (argv[1] is the target directory).
_BUILD_SF1 = (
    "import sys; import tools.scale_smoke as SM; "
    "from ipeds_etl_spark.session import get_spark; "
    "SM.SF1_DIR = sys.argv[1]; SM.build_corpus(get_spark('ipeds_etl_spark-bench'))"
)


def _ensure_sf1_corpus(sf1_dir: str) -> None:
    """Build the 10x key-offset replica corpus
    (``tools.scale_smoke.build_corpus``) into ``sf1_dir`` in a captured
    process, unless the stamp inside the directory matches: the source
    files' identity and the replica count. Any mismatch (regenerated
    testdata, changed build) forces a rebuild, and scale_smoke's own
    rebuilds drop the stamp. The parent calls it once before a track
    that reads the corpus, so every child of the track, in either
    --paired arm, reads the same bytes and warms up the same way."""
    import subprocess

    import tools.scale_smoke as SM

    stamp_path = Path(sf1_dir) / "_BENCH_STAMP.json"
    src = sorted(
        (p.name, p.stat().st_size, p.stat().st_mtime_ns)
        for p in Path(SM.SRC_DIR).glob("*.parquet")
    )
    want = {"replicas": SM.REPLICAS, "src": [list(t) for t in src]}
    if stamp_path.exists():
        try:
            if json.loads(stamp_path.read_text()) == want:
                return
        except (ValueError, OSError):
            pass
    proc = subprocess.run(
        [sys.executable, "-c", _BUILD_SF1, sf1_dir],
        cwd=Path(__file__).resolve().parent,
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + "\n" + proc.stderr[-8000:] + "\n")
        raise SystemExit(proc.returncode)
    stamp_path.write_text(json.dumps(want))


def _child(spec: dict) -> None:
    """Child-process body: time ``spec["names"]`` at ``spec["sf_dir"]``
    in a fresh session and write the part file ``spec["part"]``.

    With ``spec["engine_root"]`` set, engine code is imported from that
    tree (the --paired reference worktree); the harness, this file, is
    always the current one. With ``spec["probe"]`` set (the suite
    chunks, the only children whose probe the parent reads), the part
    also carries the calibration scan. Everything this prints goes to
    the captured child output."""
    root = spec.get("engine_root")
    if root:
        sys.path.insert(0, root)
    sf_dir = spec["sf_dir"]
    spark = _warm_session(sf_dir)
    part: dict = {"index_builds": {}, "index_build_error": None}
    try:
        part["index_builds"] = _build_indexes(spark, sf_dir)
    except Exception as e:  # noqa: BLE001 - an older revision may lack an index
        # an arm that failed its build pays it inside query timings:
        # the parent records it in the errors map
        part["index_build_error"] = str(e).split("\n")[0][:200]
    part["rows"], part["errors"] = time_queries(
        spark, spec["names"], sf_dir, spec["n_runs"]
    )
    if spec["probe"]:
        part["calibration_scan_agg"] = _spark_probe(spark, sf_dir)
    Path(spec["part"]).write_text(json.dumps(part) + "\n")


def _run_child(
    names: list[str],
    sf_dir: str,
    n_runs: int,
    engine_root: str | None = None,
    probe: bool = False,
) -> dict:
    """Run one ``_child`` in a captured subprocess and return its part;
    a failed child raises SystemExit after echoing its output tail."""
    import subprocess

    part_path = Path(__file__).resolve().parent / "BENCH_PART.json"
    part_path.unlink(missing_ok=True)
    spec = {
        "names": list(names),
        "sf_dir": sf_dir,
        "n_runs": n_runs,
        "engine_root": engine_root,
        "probe": probe,
        "part": str(part_path),
    }
    proc = subprocess.run(
        [sys.executable, str(Path(__file__).resolve())],
        env=dict(os.environ, BENCH_CHILD=json.dumps(spec)),
        capture_output=True,
        text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + "\n" + proc.stderr[-8000:] + "\n")
        raise SystemExit(proc.returncode or 1)
    part = json.loads(part_path.read_text())
    part_path.unlink()
    return part


def _timings(rows: dict[str, dict]) -> dict[str, float]:
    return {n: r["wall_s"] for n, r in rows.items()}


def _traces(rows: dict[str, dict]) -> dict[str, dict]:
    return {n: {k: r[k] for k in TRACE_FIELDS} for n, r in rows.items()}


def _median_builds(parts: list[dict]) -> dict[str, float]:
    """Per-index median of the chunks' cold builds: identical builds
    spread 2.2x across chunks (JVM warm-up, page cache), so billing
    one chunk's build would be a lottery."""
    names = {n for p in parts for n in p["index_builds"]}
    return {
        n: round(
            statistics.median(
                p["index_builds"][n] for p in parts if n in p["index_builds"]
            ),
            3,
        )
        for n in sorted(names)
    }


def _run_chunks(
    names: list[str], sf_dir: str, n_runs: int, n_chunks: int, probe: bool = False
) -> list[dict]:
    """Time ``names`` round-robin across ``n_chunks`` children, so each
    chunk gets an even share of the heavy queries."""
    return [
        _run_child(names[i::n_chunks], sf_dir, n_runs, probe=probe)
        for i in range(n_chunks)
    ]


def _isolate(here: Path, name: str, sf_dir: str, n_runs: int, mode: str) -> dict:
    """Time one query alone in a fresh child and append its record to
    BENCH_ISOLATE.json (JSONL history); returns the record."""
    part = _run_child([name], sf_dir, n_runs)
    if name not in part["rows"]:
        sys.stderr.write(f"bench: isolate {name} failed: {part['errors'].get(name)}\n")
        raise SystemExit(1)
    row = part["rows"][name]
    record = {
        "metric": "isolated_query_runtime",
        "query": name,
        "value": row["wall_s"],
        "unit": "sec",
        "sf": _sf_of(sf_dir),
        "samples": row["samples"],
        "mode": mode,
        "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        **{k: row[k] for k in TRACE_FIELDS},
    }
    with open(here / "BENCH_ISOLATE.json", "a") as f:
        f.write(json.dumps(record) + "\n")
    return record


def _auto_isolates(
    here: Path, timings: dict[str, float], sf_dir: str, n_runs: int, mode: str
) -> dict[str, float]:
    """Solo fresh-JVM medians of the AUTO_ISOLATE_TOP heaviest queries,
    fail-soft: the isolate record is supplementary, and a broken isolate
    must not cost the run its suite line."""
    out: dict[str, float] = {}
    for name in sorted(timings, key=timings.get, reverse=True)[:AUTO_ISOLATE_TOP]:
        try:
            out[name] = _isolate(here, name, sf_dir, n_runs, mode)["value"]
        except SystemExit:
            sys.stderr.write(f"bench: isolate {name} child failed; continuing\n")
        except Exception as e:  # noqa: BLE001
            sys.stderr.write(f"bench: isolate {name} failed: {e}\n")
    return out


# ---------------------------------------------------------------------------
# Paired A/B mode: same-code suite totals vary across sessions by more
# than most code changes move them, so a delta only carries signal when
# both arms run interleaved in one invocation. ``bench.py --paired REV``
# checks REV out into a git worktree and alternates fresh child JVMs
# between the two engine trees.
# ---------------------------------------------------------------------------
PAIRED_CRITERION = (
    "Per-query ratio = current/ref within each round, one fresh child JVM "
    "per arm per round (BENCH_PAIRED_ROUNDS rounds, arm order alternating "
    "ABBA, BENCH_PAIRED_RUNS runs per query), reported as the median of "
    "the per-round ratios, over the top BENCH_PAIRED_TOP sf0.1 queries of "
    "the last full run plus its sf1 list; the ref arm imports engine code "
    "from a detached worktree pinned to the rev's resolved SHA (ref_sha). "
    "Each track first runs BENCH_PAIRED_AA_ROUNDS counterbalanced "
    "same-code A/A rounds, and the range of their single-round ratios "
    "over every query, each taken both ways (a/b and b/a), is recorded "
    "as aa_band: an A/B ratio is a claimable delta only outside it. A "
    "failed index build in an arm is recorded in errors as "
    "<arm>:round<N>:index_build."
)


def paired_ratios(
    samples_cur: dict[str, list[float | None]],
    samples_ref: dict[str, list[float | None]],
) -> tuple[dict[str, float], float | None]:
    """Per-query median of WITHIN-ROUND cur/ref ratios, plus the
    median across queries. Rounds where either arm is missing (query
    errored or not registered in that revision) are dropped pairwise —
    a ratio is only ever formed from two timings taken in the same
    ABBA round. Pure function so the protocol arithmetic is unit-
    testable without spawning JVMs."""
    ratios: dict[str, float] = {}
    for n, cur in samples_cur.items():
        per_round = _round_ratios(cur, samples_ref.get(n, []))
        if per_round:
            ratios[n] = round(statistics.median(per_round), 3)
    med = round(statistics.median(ratios.values()), 3) if ratios else None
    return ratios, med


def _round_ratios(cur: list[float | None], ref: list[float | None]) -> list[float]:
    """The within-round ratios cur/ref of one query, pairwise-dropping
    rounds where either arm is missing."""
    return [
        round(c / r, 3) for c, r in zip(cur, ref) if c is not None and r is not None and r > 0
    ]


def aa_band(
    samples_a: dict[str, list[float | None]],
    samples_b: dict[str, list[float | None]],
) -> list[float] | None:
    """[min, max] of the single-round A/A ratios over every query and
    round, each taken both ways (a/b and b/a: both arms run the same
    code, so their labels carry nothing). A per-query median of two
    rounds spreads less than one round does, so a band made of medians
    is narrower than the noise of the rounds the A/B medians are made
    of."""
    singles = [
        x
        for n, a in samples_a.items()
        for x in _round_ratios(a, samples_b.get(n, [])) + _round_ratios(samples_b.get(n, []), a)
    ]
    return [min(singles), max(singles)] if singles else None


def _paired_worktree(here: Path, rev: str) -> tuple[Path, str]:
    """Detached worktree of ``rev`` under /tmp, keyed and verified by
    the rev's RESOLVED commit SHA: keying on the raw rev string would
    let a movable ref (branch, tag, ``HEAD~1`` after new commits)
    silently reuse a stale checkout. Returns ``(dir, sha)``; a reused
    dir whose HEAD differs from the SHA is removed and recreated."""
    import shutil
    import subprocess

    def _git(args: list[str], cwd: Path) -> str:
        return subprocess.run(
            ["git", *args], cwd=cwd, check=True, capture_output=True, text=True
        ).stdout.strip()

    sha = _git(["rev-parse", f"{rev}^{{commit}}"], here)
    ref_dir = Path("/tmp") / f"ipeds_bench_ref_{sha[:16]}"
    if ref_dir.exists():
        try:
            head = _git(["rev-parse", "HEAD"], ref_dir)
        except subprocess.CalledProcessError:
            head = ""
        if head != sha:
            try:
                subprocess.run(
                    ["git", "worktree", "remove", "--force", str(ref_dir)],
                    cwd=here,
                    check=True,
                    capture_output=True,
                    text=True,
                )
            except subprocess.CalledProcessError:
                shutil.rmtree(ref_dir, ignore_errors=True)
                subprocess.run(
                    ["git", "worktree", "prune"],
                    cwd=here,
                    capture_output=True,
                    text=True,
                )
    if not ref_dir.exists():
        subprocess.run(
            ["git", "worktree", "add", "--detach", str(ref_dir), sha],
            cwd=here,
            check=True,
            capture_output=True,
            text=True,
        )
    return ref_dir, sha


def _paired_main(rev: str) -> None:
    here = Path(__file__).resolve().parent
    summary_path = here / "BENCH_SUMMARY.json"
    if not summary_path.exists():
        print(
            "bench --paired needs BENCH_SUMMARY.json from a prior full "
            "run (it defines the query lists)",
            file=sys.stderr,
        )
        sys.exit(2)
    summary = json.loads(summary_path.read_text())
    top = int(os.environ.get("BENCH_PAIRED_TOP", "20"))
    rounds = int(os.environ.get("BENCH_PAIRED_ROUNDS", "3"))
    n_runs = int(os.environ.get("BENCH_PAIRED_RUNS", "1"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    known = summary.get("queries_known") or summary["queries"]
    sf01_list = sorted(known, key=known.get, reverse=True)[:top]
    tracks: list[tuple[str, str, list[str]]] = [("sf0.1", sf_dir, sf01_list)]
    sf1_list = list(summary.get("queries_sf1", {}))
    if sf1_list and os.environ.get("BENCH_SF1", "1") != "0":
        _ensure_sf1_corpus(_sf1_dir())
        tracks.append(("sf1", _sf1_dir(), sf1_list))

    ref_dir, ref_sha = _paired_worktree(here, rev)
    # The A/A rounds come in counterbalanced pairs (round 0 a-then-b,
    # round 1 b-then-a), like the A/B's ABBA, so the single rounds of
    # both carry the same ~7% warm-cache arm-order bias.
    aa_rounds = int(os.environ.get("BENCH_PAIRED_AA_ROUNDS", "2"))
    record: dict = {
        "metric": "paired_bench",
        "ref_rev": rev,
        "ref_sha": ref_sha,
        "rounds": rounds,
        "aa_rounds": aa_rounds,
        "criterion": PAIRED_CRITERION,
        "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "tracks": {},
    }
    compact_tracks: dict[str, dict] = {}
    for label, d, names in tracks:
        errors: dict[str, str] = {}

        def run_arm(
            root: str | None, tag: str, *, _d=d, _names=names, _errors=errors
        ) -> dict[str, float]:
            part = _run_child(_names, _d, n_runs, root)
            for n, e in part["errors"].items():
                _errors[f"{tag}:{n}"] = e
            if part["index_build_error"]:
                _errors[f"{tag}:index_build"] = part["index_build_error"]
            return _timings(part["rows"])

        def collect(
            rnd_timings: dict[str, dict[str, float]],
            samples: dict[str, dict[str, list[float | None]]],
            _names=names,
        ) -> None:
            for n in _names:
                for arm, t in rnd_timings.items():
                    samples[arm].setdefault(n, []).append(t.get(n))

        # A/A null arm: both arms are the current tree, same ABBA child
        # protocol; the per-query ratio spread is this track's measured
        # resolution for this invocation.
        aa_samples: dict[str, dict[str, list[float | None]]] = {
            "a": {}, "b": {}
        }
        for rnd in range(aa_rounds):
            order = ("a", "b") if rnd % 2 == 0 else ("b", "a")
            per_round = {
                arm: run_arm(None, f"aa-{arm}:round{rnd}") for arm in order
            }
            collect(per_round, aa_samples)
        aa_ratios, aa_med = paired_ratios(aa_samples["a"], aa_samples["b"])
        band = aa_band(aa_samples["a"], aa_samples["b"])

        samples: dict[str, dict[str, list[float | None]]] = {
            "ref": {}, "cur": {}
        }
        for rnd in range(rounds):
            arm_order = (
                ("cur", None), ("ref", str(ref_dir))
            ) if rnd % 2 == 0 else ((("ref", str(ref_dir)), ("cur", None)))
            per_round = {
                arm: run_arm(root, f"{arm}:round{rnd}")
                for arm, root in arm_order
            }
            collect(per_round, samples)
        ratios, med = paired_ratios(samples["cur"], samples["ref"])
        record["tracks"][label] = {
            "sf_dir": d,
            "queries": names,
            "samples_ref": samples["ref"],
            "samples_cur": samples["cur"],
            "ratios": ratios,
            "median_ratio": med,
            "aa_samples_a": aa_samples["a"],
            "aa_samples_b": aa_samples["b"],
            "aa_ratios": aa_ratios,
            "aa_median_ratio": aa_med,
            "aa_band": band,
            "errors": errors,
        }
        compact_tracks[label] = {
            "median_ratio": med,
            "n": len(ratios),
            "aa_median": aa_med,
            "aa_band": band,
        }

    with open(here / "BENCH_PAIRED.json", "a") as f:
        f.write(json.dumps(record) + "\n")
    line = json.dumps(
        {
            "metric": "paired_bench",
            "ref_rev": rev,
            "ref_sha": ref_sha[:12],
            "tracks": compact_tracks,
        }
    )
    print(line)
    print(line)


def _sf1_track(
    queries_known: dict[str, float], errors: dict[str, str]
) -> tuple[dict[str, dict], dict[str, float]]:
    """The sf1 track: its rows and its billed index builds. Failures of
    its queries are recorded in ``errors`` under ``sf1:``."""
    sf1_top = int(os.environ.get("BENCH_SF1_TOP", "60"))
    sf1_chunks = max(1, int(os.environ.get("BENCH_SF1_CHUNKS", "3")))
    # rank by the cumulative last-known medians: under rotation this
    # run's timings cover only one slice of the registry
    sf1_list = [
        n
        for n in sorted(queries_known, key=queries_known.get, reverse=True)
        if n not in SF1_EXCLUDED
    ][:sf1_top]
    sf1_list += [
        n for n in sorted(SF1_FORCE_INCLUDE) if n in queries_known and n not in sf1_list
    ]
    _ensure_sf1_corpus(_sf1_dir())
    parts = _run_chunks(
        sf1_list, _sf1_dir(), int(os.environ.get("BENCH_SF1_RUNS", "2")), sf1_chunks
    )
    merged: dict[str, dict] = {}
    for p in parts:
        merged.update(p["rows"])
        for name, err in p["errors"].items():
            errors[f"sf1:{name}"] = err
            sys.stderr.write(f"bench sf1: {name} FAILED: {err}\n")
        if p["index_build_error"]:
            errors["sf1:index_build"] = p["index_build_error"]
    return {n: merged[n] for n in sf1_list if n in merged}, _median_builds(parts)


def main() -> None:
    """Parent: run captured children, merge parts, print ONLY a compact
    summary line (twice: first and last stdout line). The full summary
    with ~250 per-query entries can never fit a bounded stdout tail,
    so the per-query map lives in BENCH_SUMMARY.json."""
    spec = os.environ.get("BENCH_CHILD")
    if spec:
        _child(json.loads(spec))
        return

    here = Path(__file__).resolve().parent

    if len(sys.argv) >= 2 and sys.argv[1] == "--paired":
        if len(sys.argv) < 3:
            print("usage: python bench.py --paired <git-rev>", file=sys.stderr)
            sys.exit(2)
        _paired_main(sys.argv[2])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("BENCH_RUNS", "3"))
    if len(sys.argv) >= 2 and sys.argv[1] == "--isolate":
        if len(sys.argv) < 3:
            # a typo'd invocation must not fall through to the full suite
            print("usage: python bench.py --isolate <query_name>", file=sys.stderr)
            sys.exit(2)
        mode = os.environ.get("BENCH_ISOLATE_MODE", "manual")
        print(json.dumps(_isolate(here, sys.argv[2], sf_dir, n_runs, mode)))
        return

    n_chunks = max(1, int(os.environ.get("BENCH_CHUNKS", "4")))
    out_path = here / "BENCH_SUMMARY.json"
    # cumulative last-known sf0.1 medians (for sf1 ranking under
    # rotation) must be carried BEFORE the stale summary is dropped
    prior_known: dict[str, float] = {}
    if out_path.exists():
        try:
            prior = json.loads(out_path.read_text())
            prior_known = dict(prior.get("queries_known") or prior["queries"])
        except (ValueError, KeyError, OSError):
            prior_known = {}
    out_path.unlink(missing_ok=True)  # never serve a stale summary

    suite_all = _suite_list()
    rotate = max(1, int(os.environ.get("BENCH_ROTATE", "3")))
    try:
        run_cpus: int | None = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        run_cpus = None
    rotation_slice = None
    rotation_advanced = False
    if rotate > 1:
        state_path = here / "BENCH_ROTATION.json"
        rotation_slice, rotation_advanced = resolve_rotation(
            state_path, rotate, os.environ.get("BENCH_ROTATE_PIN")
        )
        suite_run = rotation_plan(
            suite_all,
            set(HEADLINE) | SF1_FORCE_INCLUDE,
            rotate,
            rotation_slice,
        )
        if rotation_advanced:
            state_path.write_text(
                json.dumps(
                    {
                        "slice": rotation_slice,
                        "rotate": rotate,
                        "cpus": run_cpus,
                        "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                    }
                )
                + "\n"
            )
    else:
        suite_run = suite_all

    parts = _run_chunks(suite_run, sf_dir, n_runs, n_chunks, probe=True)
    merged: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for p in parts:
        merged.update(p["rows"])
        errors.update(p["errors"])
        if p["index_build_error"]:
            errors["index_build"] = p["index_build_error"]
    rows = {name: merged[name] for name in suite_run if name in merged}
    timings = _timings(rows)
    # last-known medians: prior runs' values overlaid with this run's
    # (restricted to the current registry so renamed/removed queries age
    # out instead of haunting the sf1 ranking)
    queries_known = {
        n: v for n, v in {**prior_known, **timings}.items() if n in suite_all
    }
    for name, err in errors.items():
        sys.stderr.write(f"bench: {name} FAILED: {err}\n")
    index_builds = _median_builds(parts)
    total = round(sum(timings.values()), 3)

    isolates = _auto_isolates(here, timings, sf_dir, n_runs, "auto-top5")

    sf1_rows: dict[str, dict] = {}
    sf1_builds: dict[str, float] = {}
    sf1_isolates: dict[str, float] = {}
    if os.environ.get("BENCH_SF1", "1") != "0" and _sf_of(sf_dir) == 0.1:
        # fail-soft like the isolates: losing the sf1 line must not lose
        # the suite line
        try:
            sf1_rows, sf1_builds = _sf1_track(queries_known, errors)
        except SystemExit:
            sys.stderr.write("bench: sf1 chunk child failed; continuing\n")
        except Exception as e:  # noqa: BLE001
            sys.stderr.write(f"bench: sf1 track failed: {e}\n")
        sf1_isolates = _auto_isolates(
            here,
            _timings(sf1_rows),
            _sf1_dir(),
            int(os.environ.get("BENCH_SF1_RUNS", "2")),
            "auto-top5-sf1",
        )
    sf1_timings = _timings(sf1_rows)

    compact = {
        "metric": "suite_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": _sf_of(sf_dir),
        "n_queries": len(timings),
        "index_build_total": round(sum(index_builds.values()), 3),
        # errored queries shrink the totals: a nonzero n_errors flags a
        # run whose totals are not comparable to a clean run's
        "n_errors": len(errors),
        # sf0.1 rotation slice of this run (None = full sweep)
        "rotation": f"{rotation_slice}/{rotate}" if rotate > 1 else None,
        "calib_cpu_s": _cpu_probe(),
        "calib_scan_s": round(
            statistics.median(p["calibration_scan_agg"] for p in parts), 3
        ),
    }
    if sf1_timings:
        compact["sf1_total"] = round(sum(sf1_timings.values()), 3)
        compact["sf1_n_queries"] = len(sf1_timings)
    # HEADLINE + force-includes lead the bounded per-query map: they are
    # timed every run, so the same names appear run after run
    line_priority = HEADLINE + sorted(SF1_FORCE_INCLUDE)
    compact["queries"] = compact_query_map(
        timings,
        line_priority,
        BENCH_LINE_BUDGET - len(json.dumps(compact)) - len(', "queries": '),
    )
    full = dict(
        compact,
        queries=timings,
        query_traces=_traces(rows),
        queries_known=queries_known,
        runs_per_query=n_runs,
        aggregation="median",
        n_chunks=n_chunks,
        index_builds=index_builds,
        index_builds_per_chunk={str(i): p["index_builds"] for i, p in enumerate(parts)},
        suite_criterion=SUITE_CRITERION,
        excluded=sorted(EXCLUDED),
        isolates_top5=isolates,
        isolates_top5_sf1=sf1_isolates,
        sf1_force_include=dict.fromkeys(
            sorted(SF1_FORCE_INCLUDE), "scale story registers only at 10x"
        ),
        queries_sf1=sf1_timings,
        query_traces_sf1=_traces(sf1_rows),
        index_builds_sf1=sf1_builds,
        sf1_runs_per_query=int(os.environ.get("BENCH_SF1_RUNS", "2")),
        sf1_criterion=SF1_CRITERION,
        sf1_excluded=dict(SF1_EXCLUDED),
        errors=errors,
    )
    out_path.write_text(json.dumps(full) + "\n")
    # append-only per-run history: BENCH_SUMMARY.json is overwritten each
    # run, and the bounded stdout line cannot carry every entry
    with open(here / "BENCH_QUERIES.jsonl", "a") as f:
        f.write(
            json.dumps(
                {
                    "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
                    "sf": _sf_of(sf_dir),
                    "cpus": run_cpus,
                    "rotation": compact["rotation"],
                    "rotation_advanced": rotation_advanced,
                    "n_errors": len(errors),
                    "queries": timings,
                    "queries_sf1": sf1_timings,
                    "index_builds": index_builds,
                    "index_builds_sf1": sf1_builds,
                    "traces": _traces(rows),
                    "traces_sf1": _traces(sf1_rows),
                }
            )
            + "\n"
        )

    line = json.dumps(compact)
    print(line)
    print(line)


if __name__ == "__main__":
    main()
