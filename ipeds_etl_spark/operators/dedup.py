"""Deduplication operators for large-scale training-data pipelines.

Six families, all shuffle-aware and expressed with native DataFrame
ops (no Python in the hot path):

* ``exact_dedup``            — hash-groupBy on a content hash. One
  shuffle on the 64-hex hash; at 100 TB this is the canonical
  map-side-combinable pattern (partial aggregates push to mappers).
* ``minhash_signatures`` / ``lsh_candidate_pairs`` — MinHash + banded
  LSH (Broder 1997): shingle → 40-bit hash → n affine permutations →
  per-band signature → self-join on (band, band-signature). Only
  documents sharing a band bucket are ever paired, so the cross
  product never materializes; the join shuffles on the band key.
* ``simhash`` / ``simhash_near_pairs`` — Charikar 2002 bitwise
  fingerprint; near-dup = Hamming distance ≤ k, found by the standard
  pigeonhole block trick: split the fingerprint into k+1 blocks, join
  on any exact block match (a pair within distance k must agree on at
  least one block).
* ``ngram_jaccard_pairs``    — exact n-gram Jaccard for candidate
  pairs (array_intersect/array_union on shingle sets); used to verify
  LSH candidates. Exact-arithmetic rational (ints divided once).
* ``jaccard_prefix_pairs``   — exact k-shingle Jaccard self-join
  (optionally blocked) through the PPJoin prefix filter; the one plan
  of the registered ``dedup_ngram_jaccard`` query.
* ``embedding_near_dups``    — cosine-similarity near-duplicates over
  an embedding column; see ``operators.similarity`` for the kernels.

Every constant (permutation family, band layout) is deterministic so
the DuckDB oracles replicate results bit-for-bit (see
``functions.hashing``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ipeds_etl_spark.functions.hashing import (
    MERSENNE_P,
    content_hash,
    minhash_perms,
    parity_hash,
    parity_hash_wide,
)
from ipeds_etl_spark.functions.text import shingles_of, tokens, word_shingles

# default MinHash geometry: 16 permutations × 4 rows/band = 4 bands.
N_PERMS = 16
ROWS_PER_BAND = 4

# SimHash geometry: 56-bit fingerprints (wide-hash width) and Hamming
# radius 3 ⇒ 4 pigeonhole blocks of 14 bits. Block width is the
# hot-bucket control: 14-bit block values (16k buckets/block) keep the
# quadratic in-bucket pair expansion bounded as the corpus grows —
# measured at sf0.1, 10-bit blocks produced a 727-doc bucket (264k
# pairs from one bucket); 14-bit blocks cap it ~16× lower.
SIMHASH_BITS = 56
HAMMING_K = 3
N_BLOCKS = HAMMING_K + 1
BLOCK_BITS = SIMHASH_BITS // N_BLOCKS


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups by content hash; keeps the smallest id as
    the canonical representative. Output: one row per input row with
    (id, content_hash, group_size, keep)."""
    h = content_hash(F.col(text_col)).alias("text_sha")
    hashed = df.select(F.col(id_col), h)
    return hashed.select(
        id_col,
        "text_sha",
        F.count("*").over(_group(F.col("text_sha"))).alias("group_size"),
        (F.col(id_col) == F.min(id_col).over(_group(F.col("text_sha")))).alias("keep"),
    )


def _group(c: Column):
    from pyspark.sql import Window

    return Window.partitionBy(c)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_perms: int = N_PERMS, shingle_k: int = 3
) -> DataFrame:
    """Per-document MinHash signature as ``sig: array<long>``.

    MAP-ONLY: shingle → parity hash stays an array column per document,
    and each permutation's min is an ``array_min(transform(...))`` over
    that array — no explode, no shuffle, no aggregation. The previous
    form exploded shingles and re-assembled signatures with a 16-min
    groupBy; that shuffled O(docs × n_perms) and paid a row-blowup of
    O(total tokens). This form matches the DuckDB oracle shape
    (per-doc ``list_min``) and makes the whole signature pipeline a
    single narrow stage — at 100 TB the first exchange of the LSH
    pipeline is now the *bucket* groupBy, not the signature build.
    (Measured at sf0.1: pair-pipeline exec 1.65 s → ~1.0 s.)
    """
    # tokens + hashed-shingle array projected in SEPARATE selects — each
    # projection is an optimizer barrier (CollapseProject refuses to
    # duplicate non-cheap expressions), so the sha256 per shingle runs
    # once, not once per permutation; see shingles_of PERF note.
    hv = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).select(
        F.col(id_col),
        F.transform(shingles_of(F.col("toks"), shingle_k), parity_hash).alias("hv"),
    )
    # ONE parsed expression builds the signature array: a single Py4J
    # round trip; 16 array_min passes over an already-materialized
    # long-array column are cheap codegen loops.
    arr = (
        "array("
        + ", ".join(
            f"array_min(transform(hv, h -> (h * {a} + {b}) % {MERSENNE_P}))"
            for a, b in minhash_perms(n_perms)
        )
        + ") AS sig"
    )
    # NULL text ⇒ hv NULL; the old explode form dropped those rows, so
    # filter to keep the contract (and the band keys) identical.
    return hv.where(F.col("hv").isNotNull()).selectExpr(id_col, arr)


def lsh_band_buckets(
    sigs: DataFrame, id_col: str, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """Explode signatures into (band, band_key) bucket rows. band_key is
    a stable string encoding of the band's signature slice."""
    rpb = int(rows_per_band)
    bands = F.expr(
        f"transform(sequence(0, cast(floor(size(sig) / {rpb}) as int) - 1), "
        f"b -> named_struct("
        f"'band', cast(b as int), "
        f"'band_key', array_join(transform(slice(sig, b * {rpb} + 1, {rpb}), "
        f"v -> cast(v as string)), '_')))"
    )
    return sigs.select(id_col, F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


#: Per-bucket population cap: one boilerplate bucket (near-identical
#: content colliding into a single LSH band) must not OOM its task —
#: the pair expansion is quadratic per bucket. 10k keeps the worst
#: single-bucket expansion at ~5·10⁷ pairs and the agg buffer at ~10k
#: structs; buckets this hot mean the band/block width needs retuning,
#: which the overflow counter makes visible.
MAX_BUCKET_SIZE_DEFAULT = 10_000


def capped_bucket_arrays(
    bucketed: DataFrame,
    bucket_cols: Sequence[str],
    payload: Column,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    cap_mode: str = "window",
) -> DataFrame:
    """The shared first stage of every in-bucket pair expansion: one row
    per bucket with the sorted distinct ``payload`` array (``xs``,
    rank-capped at ``max_bucket_size`` per the ``cap_mode`` contract
    documented on :func:`pairs_within_buckets`) and the ``__overflow``
    count of dropped members. Buckets with fewer than two members are
    dropped (no pairs). Shared with the Arrow in-bucket verify
    (``arrowverify``), which needs the identical cap semantics without
    the id-pair + re-attach-join spelling."""
    grouped_keys = [F.col(c) for c in bucket_cols]
    if max_bucket_size is None:
        grouped = bucketed.groupBy(*grouped_keys).agg(
            F.array_sort(F.collect_set(payload)).alias("xs"),
            F.lit(0).cast("long").alias("__overflow"),
        )
    elif cap_mode == "drop":
        # stop-key semantics (winnowing MAX_DF, HAVING count <= cap):
        # a bucket over the cap is dropped WHOLE — boilerplate keys
        # yield no pairs at all — instead of sliced to its smallest
        # members. The agg buffer is still BOUNDED at the cap: a
        # dense_rank window (same bucket-key exchange as the groupBy)
        # caps what collect_set keeps, and max(dense_rank) IS the
        # bucket's distinct-payload count, so the drop filter needs no
        # unbounded array. Without the rank cap a boilerplate bucket
        # (10⁴+ members at 10×) collected its whole membership just to
        # be thrown away — a skewed straggler task measured at sf1
        # (opt r13).
        from pyspark.sql import Window

        w = Window.partitionBy(*bucket_cols).orderBy(payload)
        ranked = bucketed.withColumn("__dr", F.dense_rank().over(w))
        grouped = (
            ranked.groupBy(*grouped_keys)
            .agg(
                F.array_sort(
                    F.collect_set(
                        F.when(F.col("__dr") <= max_bucket_size, payload)
                    )
                ).alias("xs"),
                F.lit(0).cast("long").alias("__overflow"),
                F.max("__dr").alias("__mx"),
            )
            .filter(F.col("__mx") <= max_bucket_size)
            .drop("__mx")
        )
    elif cap_mode == "agg":
        grouped = bucketed.groupBy(*grouped_keys).agg(
            F.array_sort(F.collect_set(payload)).alias("__all")
        ).select(
            *grouped_keys,
            F.slice(F.col("__all"), 1, max_bucket_size).alias("xs"),
            F.greatest(
                F.size("__all") - max_bucket_size, F.lit(0)
            ).cast("long").alias("__overflow"),
        )
    else:
        from pyspark.sql import Window

        w = Window.partitionBy(*bucket_cols).orderBy(payload)
        ranked = bucketed.withColumn("__rn", F.row_number().over(w))
        grouped = ranked.groupBy(*grouped_keys).agg(
            F.array_sort(
                F.collect_set(F.when(F.col("__rn") <= max_bucket_size, payload))
            ).alias("xs"),
            F.sum(
                F.when(F.col("__rn") > max_bucket_size, 1).otherwise(0)
            ).alias("__overflow"),
        )
    return grouped.filter(F.size("xs") > 1)


#: a-position chunk width for the in-bucket expand+verify
#: (``arrowverify``): each (bucket, chunk) row scores FUSED_PAIR_CHUNK
#: a-positions against their partners in one task-local block. Bounds
#: the per-row score block at chunk × cap even for an all-duplicate
#: bucket, and yields n_buckets × ⌈B/chunk⌉ independently-schedulable
#: work units — scale-adaptive parallelism without a tuned fan-out
#: constant (chunk counts grow with bucket population, and the
#: round-robin repartition deals heavy early chunks and light late
#: chunks evenly).
FUSED_PAIR_CHUNK = 128


def pairs_within_buckets(
    bucketed: DataFrame,
    bucket_cols: Sequence[str],
    payload: Column,
    max_bucket_size: int | None = MAX_BUCKET_SIZE_DEFAULT,
    overflow_col: str | None = None,
    cap_mode: str = "window",
) -> DataFrame:
    """All unordered pairs of ``payload`` values sharing a bucket,
    WITHOUT a self-join: groupBy bucket → sorted distinct payload array
    → inline pair expansion. One shuffle (on the bucket key) instead of
    a join over a twice-computed input — at scale this halves the
    upstream compute and removes a whole exchange. The payload struct's
    FIRST field must be the orderable id; pairs come out with
    ``a.<field> < b.<field>``.

    Hot-bucket bound: pair expansion is quadratic per bucket, so a
    pathological bucket is capped at ``max_bucket_size`` members (the
    ``max_bucket_size`` smallest payloads by sort order — deterministic).
    The cap is applied INSIDE the aggregation (rank within bucket, then
    a conditional ``collect_set``), so the agg buffer itself is bounded,
    not just the expansion; the rank window shares the bucket-key
    exchange with the groupBy, costing a sort but no extra shuffle.
    Dropped members are counted per bucket and surfaced as
    ``overflow_col`` on every emitted pair when requested (non-zero ⇒
    results for that bucket are partial ⇒ widen the band/block key).
    ``max_bucket_size=None`` disables the cap (oracle-exact mode).

    ``cap_mode`` picks where the cap is enforced:

    * ``"window"`` (default) — rank window before the agg, so the AGG
      BUFFER is bounded too. Use when a bucket can be pathologically
      huge (LSH boilerplate buckets: millions of members).
    * ``"agg"`` — one aggregation; the sorted distinct array is
      ``slice``d to the cap afterwards. The buffer grows linearly with
      the actual bucket (fine when buckets are naturally small — e.g.
      items-per-order baskets), the quadratic EXPANSION stays bounded,
      and the window sort is skipped (~20% off the basket pipeline at
      sf0.1). Requires bucket rows distinct per payload (duplicates
      would perturb the overflow count vs the window form; pair output
      is identical either way for distinct inputs).
    * ``"drop"`` — buckets over the cap are dropped WHOLE (the
      stop-key / HAVING count <= cap convention: boilerplate keys
      contribute no pairs), never sliced. ``__overflow`` is always 0
      for surviving buckets.
    """
    grouped = capped_bucket_arrays(
        bucketed, bucket_cols, payload, max_bucket_size, cap_mode
    )
    # TWO-LEVEL explode, not a one-shot flatten: a single
    # `flatten(transform(xs, ...))` materializes the ENTIRE B²/2-pair
    # array as one generated value — at the 10k cap that is ~5·10⁷
    # structs in one allocation, which OOMed an executor in the sf10
    # smoke (clone-clique buckets). posexplode to (position, a) first
    # (rows carry only the O(B) xs array), then explode each row's
    # i+1.. suffix slice: every allocation stays O(bucket), the B²
    # pairs exist only as a row stream the engine can pipeline and
    # spill. Same output set, same single shuffle.
    out = (
        grouped.select(
            F.col("__overflow"),
            F.col("xs"),
            F.posexplode("xs").alias("__i", "a"),
        )
        .select(
            "a",
            # 0-based position i → partners start at 1-based i+2; the
            # over-length slice clamps, the last element's empty slice
            # drops its row in the explode
            F.explode(
                F.slice("xs", F.col("__i") + F.lit(2), F.size("xs"))
            ).alias("b"),
            F.col("__overflow"),
        )
        .select("a", "b", F.col("__overflow"))
    )
    if overflow_col:
        return out.withColumnRenamed("__overflow", overflow_col)
    return out.drop("__overflow")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_perms: int = N_PERMS,
    rows_per_band: int = ROWS_PER_BAND,
    shingle_k: int = 3,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing ≥1 LSH band bucket —
    via in-bucket pair expansion (``pairs_within_buckets``), so the
    signature pipeline runs once and the only shuffles are the bucket
    groupBy and the final distinct."""
    sigs = minhash_signatures(df, text_col, id_col, n_perms, shingle_k)
    buckets = lsh_band_buckets(sigs, id_col, rows_per_band)
    pairs = pairs_within_buckets(
        buckets, ["band", "band_key"], F.struct(F.col(id_col).alias("id"))
    )
    return pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).distinct()


#: packed-lane geometry: 3 bit-counters per 64-bit sum, 21 bits each.
#: Lane carry-safety bounds documents at 2^21-1 ≈ 2M tokens — beyond
#: any realistic document; longer inputs should be chunked upstream.
_LANE_BITS = 21
_BITS_PER_LONG = 3


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash fingerprint over whitespace-token hashes.

    bit_j(doc) = 1 iff the count of tokens with hash-bit j set exceeds
    half the token count (equivalent to the classic ±1 sum > 0).

    Instead of ``bits`` independent conditional-sum aggregates, bit
    counters are PACKED three per 64-bit lane-sum: each token
    contributes ``(h>>j & 1) << 21*l`` into lane ``l``, one plain SUM
    per 3 bits accumulates them, and counters unpack with shift/mask
    after the aggregate. Same single map-side-combinable groupBy, 14
    sums instead of 40 — measured ~5× faster at sf0.1, bit-identical
    output.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0)
        ).alias("tok"),
    ).select(id_col, parity_hash_wide(F.col("tok")).alias("h"))

    n_lanes = -(-bits // _BITS_PER_LONG)

    # The lane/unpack expressions are assembled as SQL strings parsed in
    # one F.expr call each: building the same ~300-operator tree through
    # per-operator Column calls costs ~1.7 s of Py4J round-trips per
    # query build (measured at sf0.1); the parsed trees are identical.
    def lane_sum(m: int) -> Column:
        terms = [
            f"shiftleft(shiftright(h, {_BITS_PER_LONG * m + lane}) & 1, "
            f"{_LANE_BITS * lane})"
            for lane in range(_BITS_PER_LONG)
            if _BITS_PER_LONG * m + lane < bits
        ]
        return F.expr(f"sum({' + '.join(terms)})").alias(f"S{m}")

    agg = toks.groupBy(id_col).agg(
        F.count("*").alias("n"), *[lane_sum(m) for m in range(n_lanes)]
    )
    mask = (1 << _LANE_BITS) - 1
    fp_terms = []
    for m in range(n_lanes):
        for lane in range(_BITS_PER_LONG):
            j = _BITS_PER_LONG * m + lane
            if j >= bits:
                break
            ones = f"(shiftright(S{m}, {_LANE_BITS * lane}) & {mask})"
            fp_terms.append(
                f"(CASE WHEN 2 * {ones} > n THEN CAST({1 << j} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
    fp = F.expr(" + ".join(fp_terms))
    return agg.select(id_col, fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = HAMMING_K
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``,
    via the pigeonhole block join (k+1 blocks ⇒ any qualifying pair
    agrees exactly on ≥1 block)."""
    fps = simhash(df, text_col, id_col)
    mask = (1 << BLOCK_BITS) - 1
    blocks = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.shiftright(F.col("simhash"), i * BLOCK_BITS)
                    .bitwiseAND(F.lit(mask))
                    .alias("blk_val"),
                )
                for i in range(N_BLOCKS)
            ]
        )
    ).alias("b")
    bucketed = fps.select(id_col, "simhash", blocks).select(
        id_col, "simhash", F.col("b.blk").alias("blk"), F.col("b.blk_val").alias("blk_val")
    )
    # carry (id, fingerprint) through the pair expansion so Hamming is
    # computed inline — no join back to the fingerprint table
    pairs = pairs_within_buckets(
        bucketed,
        ["blk", "blk_val"],
        F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("fp")),
    )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact k-word-shingle Jaccard over candidate pairs.

    ``candidates`` (id_a, id_b) restricts the comparison set — pass the
    LSH output to stay near-linear; without it this is the O(n²)
    verifier (fine for oracles, wrong for 100 TB — callers at scale
    must pre-bucket). Jaccard is |A∩B| / |A∪B| on distinct shingles,
    computed as an exact integer ratio divided once.
    """
    sets = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).select(
        F.col(id_col),
        F.array_distinct(shingles_of(F.col("toks"), k)).alias("sh"),
    )
    if candidates is None:
        L, R = sets.alias("l"), sets.alias("r")
        paired = L.join(R, F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    else:
        paired = (
            candidates.join(
                sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
            )
            .join(sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
            .select(
                F.struct(F.col("id_a").alias(id_col), F.col("sh_a").alias("sh")).alias("l"),
                F.struct(F.col("id_b").alias(id_col), F.col("sh_b").alias("sh")).alias("r"),
            )
        )
    inter = F.size(F.array_intersect(F.col("l.sh"), F.col("r.sh")))
    # |A∪B| = |A|+|B|−|A∩B| on distinct arrays (opt r13)
    union = F.size(F.col("l.sh")) + F.size(F.col("r.sh")) - inter
    return (
        paired.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    block_cols: Sequence[str] = (),
    candidates_only: bool = False,
) -> DataFrame:
    """Prefix-filtered exact Jaccard similarity join (PPJoin-lite,
    after Bayardo et al. WWW'07 / Xiao et al. WWW'08 — public
    algorithms): an EXACT alternative to MinHash-LSH candidate
    generation with zero recall loss.

    The filter: order each document's distinct k-shingles by global
    rarity (document frequency asc, shingle asc) and keep only the
    first ``n - ceil(t*n) + 1`` as its *prefix*. If ``J(a, b) >= t``
    then ``|a ∩ b| >= ceil(t * |a|)``, so the intersection cannot fit
    entirely in the suffix (``ceil(t*n) - 1`` slots) — any qualifying
    pair MUST share a prefix shingle. Candidates = prefix-token
    equi-join (rarest tokens → smallest blocks; no hot-key cap needed
    for correctness, and rarity ordering keeps blocks naturally tiny);
    verification = exact set Jaccard on the candidates only.

    The prefix is also what bounds the silent-quadratic hot bucket
    (VERDICT r9 item 1): a boilerplate shingle present in most
    documents has maximal document frequency, so the rarity ordering
    ranks it LAST within every document and it falls outside every
    prefix whose document has ≥ ceil(1/t) shingles — the hottest
    bucket never forms, with zero recall loss (unlike a size cap). No
    probe of the corpus is needed first: the same plan serves corpora
    with and without hot shingles.

    ``block_cols``: optional equality blocking — only pairs that agree
    on every block column are emitted (SQL inner-equality semantics:
    rows with a NULL block value pair with nothing and are dropped up
    front). Document frequency and the rarity ordering are then
    computed per block, which is still a single consistent order per
    comparable pair (both members share the block), so the prefix
    theorem holds unchanged.

    ``candidates_only=True`` returns the distinct candidate frame
    ``(id_a, id_b)`` BEFORE verification — the introspection hook the
    bounded-intermediate tests assert on.

    Scale shape: one token-count agg (partial-combined), one window
    over per-doc shingles (partitions are doc-sized), one equi-join on
    rare tokens, then verify on the candidate sliver. No O(n²) stage
    anywhere; output equals the brute-force join bit-for-bit.
    """
    blocks = [F.col(c) for c in block_cols]
    base = df
    for c in block_cols:
        base = base.filter(F.col(c).isNotNull())
    sets = base.select(
        F.col(id_col), *blocks, tokens(F.col(text_col)).alias("toks")
    ).select(
        F.col(id_col),
        *blocks,
        F.array_distinct(shingles_of(F.col("toks"), k)).alias("sh"),
    )
    # PLAN-EXPLOSION GUARD: ``sets`` feeds five branches (token explode,
    # both prefix join sides, both verify sides); without a barrier
    # Catalyst collapses projections and inlines the tokenize+shingle
    # chain at every reference (22 regexp_split nodes in the optimized
    # plan, ~6.5s at sf0.1; per-branch column pruning also defeats
    # ReuseExchange, so a repartition barrier doesn't help). Materialize
    # the shingle sets once — same discipline as the components
    # fixpoint (`components.py` localCheckpoint): O(corpus distinct
    # shingles) rows, and every branch reads the materialized form.
    sets = sets.localCheckpoint(eager=True)
    tok = sets.select(
        F.col(id_col).alias("id"),
        *blocks,
        F.size("sh").alias("n"),
        F.explode("sh").alias("tok"),
    )
    freq_keys = [*block_cols, "tok"]
    freq = tok.groupBy(*freq_keys).agg(F.count(F.lit(1)).alias("df_t"))
    from pyspark.sql import Window

    # set size rides through the explode (F.size above) instead of a
    # second count-over-partition window pass.
    w_rank = Window.partitionBy("id").orderBy("df_t", "tok")
    prefix_len = (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).cast("int")
    prefix = (
        tok.join(freq, freq_keys)
        .withColumn("pos", F.row_number().over(w_rank))
        .filter(F.col("pos") <= prefix_len)
        .select("id", *freq_keys, "n", "pos")
        # both sides of the candidate self-join consume this frame;
        # without a barrier each side re-runs the token explode, the
        # df agg exchange, the freq join, and the rarity window (the
        # r13 sf1 plan showed the whole subtree TWICE — the round-11
        # repeated-subtree class). The prefix table is the (1-t)-sized
        # sliver of token occurrences, so materializing it is cheap.
        .localCheckpoint(eager=False)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # POSITIONAL filter (opt r14, PPJoin's second filter — Xiao et al.
    # WWW'08; guide §3 "thin candidates before the verify"): J >= t
    # needs overlap I >= t(|a|+|b|)/(1+t). For a shared token at
    # 1-based rarity positions (i, j), shared tokens before it number
    # at most min(i,j)-1 and after it at most min(|a|-i, |b|-j) (the
    # rarity order is one consistent total order per block, so shared
    # tokens appear in the same relative order in both docs), hence
    # I <= min(i,j) + min(|a|-i, |b|-j). Comparing the multiplied-out
    # inequality with a 1e-9 slack keeps the prune LOSSLESS under
    # float rounding (over-keeping is free; over-pruning never
    # happens: any qualifying pair keeps at least its first shared
    # prefix token, where the bound is largest).
    alpha_rhs = F.lit(threshold) * (F.col("a.n") + F.col("b.n")) - F.lit(1e-9)
    match_bound = F.least(F.col("a.pos"), F.col("b.pos")) + F.least(
        F.col("a.n") - F.col("a.pos"), F.col("b.n") - F.col("b.pos")
    )
    # length filter (also from the published family): J(a,b) >= t
    # forces t*|a| <= |b| <= |a|/t, so size-incompatible pairs are
    # pruned inside the join before the distinct sees them.
    matches = a.join(
        b,
        on=[
            *(F.col(f"a.{c}") == F.col(f"b.{c}") for c in freq_keys),
            F.col("a.id") < F.col("b.id"),
            F.col("b.n") >= F.ceil(F.lit(threshold) * F.col("a.n")),
            F.col("b.n") * F.lit(threshold) <= F.col("a.n"),
            match_bound.cast("double") * (F.lit(1.0) + F.lit(threshold))
            >= alpha_rhs,
        ],
    )
    # First-match tightening: the min surviving positions per pair ARE
    # the pair's first shared prefix token (same token on both sides —
    # consistent order — and qualifying pairs always keep it, per
    # above), where no shared token precedes: I <= 1 + min(n_a - i0,
    # n_b - j0). Rides the same exchange the former distinct() paid;
    # the two min aggregates replace nothing-but-dedup with
    # dedup + a strictly stronger prune.
    cand = (
        matches.groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("__na"),
            F.col("b.n").alias("__nb"),
        )
        .agg(F.min("a.pos").alias("__i0"), F.min("b.pos").alias("__j0"))
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("__na") - F.col("__i0"),
                    F.col("__nb") - F.col("__j0"),
                )
            ).cast("double")
            * (F.lit(1.0) + F.lit(threshold))
            >= F.lit(threshold) * (F.col("__na") + F.col("__nb")) - F.lit(1e-9)
        )
        .select("id_a", "id_b")
    )
    if candidates_only:
        return cand
    # NOTE (opt r13): a verify-once-per-DISTINCT-set-pair rewrite
    # (canonical sid per unique shingle array, pairs re-attach 8-byte
    # sids, jaccard computed per distinct (sid_a, sid_b), verdict
    # joined back) was built and measured ABAB at sf1: 32.5 s vs this
    # form's 27 s, even with the pair-with-sids frame barriered — the
    # per-pair array_intersect over these set sizes is cheaper than
    # the extra pair-stream exchanges (sid attach ×2, sid-pair
    # distinct, verdict re-attach) the indirection needs. Rejected;
    # the per-pair verify below stays.
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    paired = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # |A∪B| = |A|+|B|−|A∩B| on distinct arrays (opt r13)
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        paired.select(
            "id_a", "id_b", (inter.cast("double") / union).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def intra_batch_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_perms: int = N_PERMS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Near-dedup a single batch AGAINST ITSELF: greedy larger-side
    drop over the LSH candidate pairs — every id that appears as the
    LARGER side (``id_b``) of any candidate pair is dropped. The hard
    invariant is that NO candidate pair survives intact; survivors are
    exactly the ids never seen as the larger side of a pair, which is
    deterministic and arrival-order independent. This is NOT the
    connected-component min-keep rule the batch resolution queries
    use: for pairs (1,3),(2,3) both 1 and 2 survive (2 never appears
    as ``id_b``), whereas CC-min would keep only 1. Callers needing
    component semantics should resolve via
    ``operators.components`` before the anti join (ADVICE r7). Cost:
    one LSH pass + one anti join, all ∝ batch size — the intra-batch
    step ``incremental_dedup_verdict`` deliberately leaves out (its
    docstring delegates intra-batch dedup here)."""
    losers = (
        lsh_candidate_pairs(df, text_col, id_col, n_perms, rows_per_band)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def incremental_dedup_verdict(
    df: DataFrame,
    text_col: str,
    id_col: str,
    is_existing: Column,
    n_perms: int = N_PERMS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Dedup INCOMING documents against an EXISTING reference corpus —
    the crawl-over-crawl shape: each new batch is checked against
    everything already kept, never against itself (intra-batch dedup
    is ``lsh_candidate_pairs``' job, run separately if wanted).

    ``is_existing`` marks the reference side. Candidates are LSH band
    collisions restricted to (incoming × existing) — the join probes
    the existing side's bucket table, so at 100 TB the historical
    corpus contributes ONE banded index (build once, reuse per batch)
    and each incremental batch costs a bucket-key join proportional to
    the batch, not the corpus. Output: one row per incoming doc with
    its existing-match count and the keep verdict (no match ⇒ new
    content ⇒ keep)."""
    sigs = minhash_signatures(df, text_col, id_col, n_perms=n_perms)
    buckets = lsh_band_buckets(sigs, id_col, rows_per_band=rows_per_band).join(
        df.select(F.col(id_col), is_existing.alias("__ex")), id_col
    )
    inc = buckets.filter(~F.col("__ex")).select(
        F.col(id_col).alias("inc_id"), "band", "band_key"
    )
    ex = buckets.filter(F.col("__ex")).select(
        F.col(id_col).alias("ex_id"), "band", "band_key"
    )
    matches = (
        inc.join(ex, ["band", "band_key"])
        .select("inc_id", "ex_id")
        .distinct()
    )
    incoming_ids = df.filter(~is_existing).select(F.col(id_col).alias("inc_id"))
    return (
        incoming_ids.join(matches, "inc_id", "left")
        .groupBy("inc_id")
        .agg(F.count("ex_id").alias("n_matches"))
        .select(
            F.col("inc_id").alias(id_col),
            F.col("n_matches").cast("long").alias("n_matches"),
            (F.col("n_matches") == 0).alias("keep"),
        )
    )


def minhash_signatures_from_sets(
    df: DataFrame, set_col: str, id_col: str, n_perms: int = N_PERMS
) -> DataFrame:
    """MinHash signatures over an ARBITRARY set-valued column (array of
    strings) — the text pipeline's ``minhash_signatures`` with the
    shingle step removed, generalizing LSH dedup/similarity to any
    relational set: baskets of parts, users' event-type sets, tag
    sets. Same parity hash, same permutation family, same downstream
    ``lsh_band_buckets`` — the banded index machinery is
    representation-agnostic by construction."""
    hv = df.select(
        F.col(id_col), F.transform(F.col(set_col), parity_hash).alias("hv")
    )
    arr = (
        "array("
        + ", ".join(
            f"array_min(transform(hv, h -> (h * {a} + {b}) % {MERSENNE_P}))"
            for a, b in minhash_perms(n_perms)
        )
        + ") AS sig"
    )
    return (
        hv.where(F.col("hv").isNotNull() & (F.size("hv") > 0))
        .selectExpr(id_col, arr)
    )
