"""Custom stateful streaming operator via ``applyInPandasWithState``.

``running_user_stats`` maintains per-user running totals across
micro-batches — the operator shape Spark's built-ins can't express
(neither an aggregate nor a window: state carries arbitrary Python
values and emits on every batch). This is the engine's template for
custom stateful ops:

* state = (n_events, total_value) per user key, kept in the state
  store (checkpointed, partitioned by the same hash shuffle a groupBy
  would use);
* each micro-batch's rows for a key arrive as pandas DataFrames; the
  handler folds them into state and emits one updated row;
* a processing-time timeout expires idle keys so state stays bounded
  even without a watermark (the knob for unbounded key spaces).

The handler is self-contained (no module-global references) so it
ships by value to Python workers under any session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType(), False),
        T.StructField("total", T.DoubleType(), True),
    ]
)


FUNNEL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("tv_ms", T.LongType(), True),
        T.StructField("tc_ms", T.LongType(), True),
        T.StructField("tp_ms", T.LongType(), True),
    ]
)

_FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tv", T.LongType(), True),
        T.StructField("clicks", T.ArrayType(T.LongType()), True),
        T.StructField("purchases", T.ArrayType(T.LongType()), True),
    ]
)


def funnel_stages_stream(events: DataFrame, watermark: str | None = "2 hours") -> DataFrame:
    """Streaming twin of ``queries.events.q_events_funnel``'s per-user
    stage derivation: emits (user_id, tv_ms, tc_ms, tp_ms) where
    tv = min ts of a 'view', tc = min ts of a 'click' ≥ tv,
    tp = min ts of a 'purchase' ≥ tc — min-ts ordered chaining,
    updated every micro-batch.

    Exactness under out-of-order arrival: tv/tc/tp are each monotone
    non-increasing as data accumulates (new rows only grow the
    eligible sets), so the handler keeps, besides tv, the candidate
    clicks < current tc and purchases < current tp, and re-derives
    tc/tp from those buffers each batch. A buffered click c can turn
    eligible only if tv drops to ≤ c, which needs a view with
    event-ts < c — impossible once the event-time watermark passes c.
    Likewise a purchase p < tc needs tc to drop to ≤ p, which needs a
    click (new or newly-eligible, both ≥ watermark) with ts ≤ p. So
    both buffers are pruned exactly at the watermark: state per user
    is O(events inside the watermark horizon), not O(history).

    The shuffle is the same user_id hash partitioning the batch twin's
    window uses; output mode 'update' (last emit per key wins)."""
    src = events
    if watermark is not None:
        src = src.withWatermark("ts", watermark)

    def handler(key, pdfs, state: GroupState):
        import pandas as _pd

        (user_id,) = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        tv, clicks, purchases = (
            state.get if state.exists else (None, [], [])
        )
        clicks = list(clicks or [])
        purchases = list(purchases or [])
        for pdf in pdfs:
            ms = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
            ).tolist()
            for et, t in zip(pdf["event_type"].tolist(), ms):
                if et == "view":
                    tv = t if tv is None else min(tv, t)
                elif et == "click":
                    clicks.append(t)
                elif et == "purchase":
                    purchases.append(t)
        tc = min((c for c in clicks if tv is not None and c >= tv), default=None)
        tp = min((p for p in purchases if tc is not None and p >= tc), default=None)
        wm = state.getCurrentWatermarkMs()
        # Exact eviction: candidates strictly below (tc, tp) stay only
        # while the watermark allows an event that could promote them.
        clicks = [c for c in clicks if (tc is None or c < tc) and c >= wm] + (
            [tc] if tc is not None else []
        )
        purchases = [p for p in purchases if (tp is None or p < tp) and p >= wm] + (
            [tp] if tp is not None else []
        )
        state.update((tv, clicks, purchases))
        yield _pd.DataFrame(
            {"user_id": [user_id], "tv_ms": [tv], "tc_ms": [tc], "tp_ms": [tp]}
        )

    return (
        src.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            handler,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_stats(events: DataFrame, idle_timeout_ms: int = 0) -> DataFrame:
    """Per-user running (n_events, total_value), updated each batch."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms
        else GroupStateTimeout.NoTimeout
    )
    ms = idle_timeout_ms

    def handler(key, pdfs, state: GroupState):
        import pandas as _pd

        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        if ms:
            state.setTimeoutDuration(ms)
        yield _pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            handler,
            outputStructType=STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


KMV_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("kmv_users", T.DoubleType(), False),
        T.StructField("sketch_size", T.IntegerType(), False),
    ]
)

_KMV_STATE_SCHEMA = T.StructType(
    [T.StructField("mins", T.ArrayType(T.LongType()), False)]
)


def kmv_distinct_stream(events: DataFrame, k: int = 64) -> DataFrame:
    """Streaming KMV distinct-user estimate per event_type with state
    EXACTLY O(k) per key — the mergeable-sketch story in incremental
    form: each micro-batch's hashes fold into the k-smallest set, which
    is precisely ``operators.sketches.kmv_merge`` applied batch-by-batch,
    so at every trigger the emitted estimate equals the BATCH
    ``kmv_estimate`` over all rows seen so far (cross-checked by test).
    Exact streaming distinct would need unbounded state; the sketch
    bounds it at k longs per key, which is what survives an unbounded
    stream.

    The hash is computed JVM-side BEFORE the stateful operator (same
    sha256-prefix family as the batch estimator, so estimates agree
    bit-for-bit); the Python handler only merges small long arrays.
    """
    from ipeds_etl_spark.functions.hashing import parity_hash
    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.sketches import HASH_SPACE

    space = float(HASH_SPACE)
    kk = int(k)

    def handler(key, pdfs, state: GroupState):
        import pandas as _pd

        (event_type,) = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        (mins,) = state.get if state.exists else ([],)
        seen = set(mins)
        for pdf in pdfs:
            seen.update(int(h) for h in pdf["h"])
        merged = sorted(seen)[:kk]
        state.update((merged,))
        n = len(merged)
        est = float(n) if n < kk else (kk - 1) / (merged[-1] / space)
        yield _pd.DataFrame(
            {
                "event_type": [event_type],
                "kmv_users": [est],
                "sketch_size": [n],
            }
        )

    return (
        events.select(
            "event_type", parity_hash(F.col("user_id").cast("string")).alias("h")
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            handler,
            outputStructType=KMV_SCHEMA,
            stateStructType=_KMV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HLL_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("hll_users", T.DoubleType(), False),
        T.StructField("filled_registers", T.IntegerType(), False),
    ]
)

_HLL_STATE_SCHEMA = T.StructType(
    [T.StructField("regs", T.ArrayType(T.IntegerType()), False)]
)


def hll_distinct_stream(events: DataFrame, include_global: bool = False) -> DataFrame:
    """Streaming HLL distinct-user estimate per event_type — the
    max-merge sibling of ``kmv_distinct_stream`` with even tighter
    state: EXACTLY m = 64 small ints per key, independent of both the
    stream length and the true cardinality (KMV's k-array at least
    varies in content; HLL registers never grow). Each micro-batch's
    (bucket, rho) pairs — computed JVM-side with the same parity-hash
    arithmetic as the batch sketch (``operators/sketches.py``) — fold
    into the registers by MAX, the associative merge that makes any
    batch boundary invisible: at every trigger the emitted estimate
    equals the batch ``events_hll_users`` raw estimator over all rows
    seen so far, bit-for-bit (the harmonic sum is exact-dyadic in both
    forms; cross-checked by test).

    ``include_global=True`` additionally maintains the max-MERGED
    global registers under the reserved key ``__all__`` — the
    streaming twin of the batch query's grouping-sets/Expand pass:
    each input row is exploded map-side to its own type key AND the
    global key, so the ``__all__`` state is structurally the merge of
    the per-type registers (register merge IS max), at the cost of one
    extra state row of 64 ints total. This is how a streaming job gets
    per-group and all-up uniques from ONE stateful operator instead of
    two queries over the same source."""
    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.sketches import (
        HLL_M,
        _HLL_ALPHA_M2,
        hll_bucket,
        hll_rho,
    )

    m = int(HLL_M)
    alpha_m2 = float(_HLL_ALPHA_M2)

    def handler(key, pdfs, state: GroupState):
        import pandas as _pd

        (event_type,) = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        (regs,) = state.get if state.exists else ([0] * m,)
        regs = list(regs)
        for pdf in pdfs:
            for b, r in zip(pdf["bucket"], pdf["rho"]):
                b = int(b)
                if int(r) > regs[b]:
                    regs[b] = int(r)
        state.update((regs,))
        # exact-dyadic harmonic sum: absent registers (0) contribute 2^0
        denom = sum(2.0**-r for r in regs)
        yield _pd.DataFrame(
            {
                "event_type": [event_type],
                "hll_users": [alpha_m2 / denom],
                "filled_registers": [sum(1 for r in regs if r > 0)],
            }
        )

    uid = F.col("user_id").cast("string")
    key = (
        F.explode(F.array(F.col("event_type"), F.lit("__all__")))
        if include_global
        else F.col("event_type")
    )
    return (
        events.select(
            key.alias("event_type"),
            hll_bucket(uid).cast("int").alias("bucket"),
            hll_rho(uid).cast("int").alias("rho"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            handler,
            outputStructType=HLL_STREAM_SCHEMA,
            stateStructType=_HLL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HH_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("item", T.StringType(), False),
        T.StructField("est_count", T.LongType(), False),
        T.StructField("max_err", T.LongType(), False),
        T.StructField("n_shard", T.LongType(), False),
    ]
)

_HH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType()), True),
        T.StructField("counts", T.ArrayType(T.LongType()), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def heavy_hitters_stream(
    events: DataFrame,
    item_col: str = "user_id",
    m: int = 8,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming heavy hitters with state bounded at EXACTLY ``m``
    counters per shard — Misra-Gries in its mergeable-summaries form
    (Misra & Gries 1982; Agarwal et al. PODS'12, both public).

    Exact streaming top-k needs unbounded state (every distinct item).
    This keeps ``m`` (item, count) pairs per shard: each micro-batch's
    exact pandas counts are added to the summary, then the summary is
    compressed back to ``m`` entries by subtracting the (m+1)-th
    largest count and dropping non-positives — the published merge
    rule, whose cumulative undercount is at most ``n_shard / (m+1)``.
    Guarantees (tested against exact batch counts): estimates never
    exceed the truth, undershoot by at most ``max_err``, and every item
    with true count > ``max_err`` is still tracked — the sketch can
    miss only items too rare to ever matter.

    Items are sharded JVM-side by the engine-portable ``parity_hash``
    (same family as every other operator), so a batch job can replay
    the exact shard assignment when validating or merging shards.
    """
    from pyspark.sql import functions as F

    from ipeds_etl_spark.functions.hashing import parity_hash

    mm = int(m)

    def handler(key, pdfs, state: GroupState):
        import pandas as _pd

        (shard,) = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        items, counts, n = (
            state.get if state.exists else ([], [], 0)
        )
        cnt = dict(zip(items, counts))
        n = int(n)
        for pdf in pdfs:
            vc = pdf["item"].value_counts()
            n += int(vc.sum())
            for it, c in vc.items():
                cnt[it] = cnt.get(it, 0) + int(c)
        if len(cnt) > mm:
            kth = sorted(cnt.values(), reverse=True)[mm]
            cnt = {it: c - kth for it, c in cnt.items() if c > kth}
        state.update((list(cnt), [int(v) for v in cnt.values()], n))
        err = n // (mm + 1)
        yield _pd.DataFrame(
            {
                "shard": [int(shard)] * len(cnt),
                "item": list(cnt),
                "est_count": [int(v) for v in cnt.values()],
                "max_err": [err] * len(cnt),
                "n_shard": [n] * len(cnt),
            }
        )

    shard = (
        parity_hash(F.concat(F.lit("hh:"), F.col(item_col).cast("string")))
        % n_shards
    ).cast("int")
    return (
        events.select(
            shard.alias("shard"), F.col(item_col).cast("string").alias("item")
        )
        .groupBy("shard")
        .applyInPandasWithState(
            handler,
            outputStructType=HH_SCHEMA,
            stateStructType=_HH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


PATHS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("path", T.StringType()),
    ]
)

#: (prefix event_types ≤2 finalized, buffered [ts_ms, event_id, type] triples)
_PATHS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("prefix", T.ArrayType(T.StringType())),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),
        T.StructField("buf_id", T.ArrayType(T.LongType())),
        T.StructField("buf_et", T.ArrayType(T.StringType())),
    ]
)


def path_trigrams_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``queries.events.q_events_top_paths``'s
    trigram derivation: emits one (user_id, 'a > b > c') row per
    finalized 3-step path, in exact per-user (ts, event_id) order,
    under out-of-order arrival.

    Exactness argument: an event can still arrive with any event-time
    ≥ the current watermark, so a trigram ending at time t3 is FINAL
    exactly when the watermark passes t3 (no event can be inserted
    before or inside it anymore). The handler therefore buffers the
    horizon's events per user, and each batch: sorts the buffer,
    emits trigrams whose last element is below the watermark, keeps
    the rest plus the last TWO finalized event types as the prefix
    for future trigrams. State is O(events inside the watermark
    horizon) + 2 strings — the same bound as the funnel twin; emitted
    rows are never retracted (append mode)."""
    src = events.withWatermark("ts", watermark)

    def handler(key, pdfs, state: GroupState):
        import pandas as _pd

        (user_id,) = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        prefix, buf_ts, buf_id, buf_et = (
            state.get if state.exists else ([], [], [], [])
        )
        buf = list(zip(buf_ts or [], buf_id or [], buf_et or []))
        prefix = list(prefix or [])
        for pdf in pdfs:
            ms = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000
            ).tolist()
            buf.extend(zip(ms, pdf["event_id"].tolist(), pdf["event_type"].tolist()))
        buf.sort()
        wm = state.getCurrentWatermarkMs()
        # events strictly below the watermark are final: no event can
        # arrive before them anymore
        final = [b for b in buf if b[0] < wm]
        pending = [b for b in buf if b[0] >= wm]
        seq = prefix + [et for _, _, et in final]
        # every trigram of seq ends at a newly-final element (the
        # prefix carries only 2 symbols, one short of a trigram), and
        # trigrams finalized earlier are not in seq — so emit all
        out = [" > ".join(seq[i : i + 3]) for i in range(len(seq) - 2)]
        new_prefix = seq[-2:] if len(seq) >= 2 else seq
        state.update(
            (
                new_prefix,
                [t for t, _, _ in pending],
                [e for _, e, _ in pending],
                [et for _, _, et in pending],
            )
        )
        if out:
            yield _pd.DataFrame({"user_id": [user_id] * len(out), "path": out})

    return (
        src.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            handler,
            outputStructType=PATHS_SCHEMA,
            stateStructType=_PATHS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """``running_user_stats`` re-expressed on Spark 4's
    ``transformWithStateInPandas`` — the typed-state successor to
    ``applyInPandasWithState`` (SPARK-46815, "Arbitrary State API
    v2"): state is a named, schema-declared ``ValueState`` on a
    processor handle (with ListState/MapState/timers/TTL available)
    instead of one opaque tuple. Semantics are IDENTICAL to the v1
    twin — per-user running (n_events, total_value) emitted on every
    update — and the equivalence test runs BOTH APIs over the same
    input and demands identical final rows, pinning the migration
    path. State per key is one (long, double) pair; at 100 TB the
    state store shards by user_id exactly as the v1 form does.

    Deployment notes: transformWithState requires the RocksDB state
    store provider (``spark.sql.streaming.stateStore.providerClass``)
    and its Python state protocol needs ``google.protobuf`` on the
    workers — absent in this sandbox, so the equivalence test is
    skip-marked (same env-gating pattern as the PIL media decode)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n_events bigint, total_value double"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as _pd

            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._agg.update((n, total))
            yield _pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningStats(),
            outputStructType=STATS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


QSK_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("level", T.LongType(), False),
        T.StructField("n_retained", T.LongType(), False),
        T.StructField("est_p500", T.DoubleType(), True),
    ]
)

_QSK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("vals", T.ArrayType(T.DoubleType()), True),
        T.StructField("ids", T.ArrayType(T.LongType()), True),
        T.StructField("ctzs", T.ArrayType(T.LongType()), True),
        T.StructField("lev", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def quantile_sketch_stream(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 256,
) -> DataFrame:
    """Streaming twin of ``operators/qsketch.py``: the mergeable
    hash-level quantile sketch maintained incrementally, O(k) state
    per key. Each micro-batch appends its rows' (value, id, trailing-
    zero level) triples — levels are computed JVM-side with the SAME
    ``qsketch.ctz`` expression the batch operator and the DuckDB
    oracle use — then the compaction rule re-applies: raise L while
    more than ``k`` rows have level ≥ L, dropping the filtered rows.

    Because retention sets are nested and counts only grow, the
    incremental L equals the batch L at every prefix (induction:
    any level the batch rule would reject was already rejected when
    its count first crossed k), so the FINAL state is bit-identical
    to the batch sketch over all rows seen — asserted by
    ``test_wave14_ops::test_qsketch_stream_equals_batch``, the same
    replay-equality bar as the KMV/HLL stream twins. Emits the p50
    readout per batch with the batch operator's exact rule
    (smallest retained value whose 2^L-weighted rank reaches ⌈n/2⌉)."""
    from pyspark.sql import functions as F

    from ipeds_etl_spark.operators.qsketch import ctz

    kk = int(k)

    def handler(key, pdfs, state: GroupState):
        import pandas as _pd

        (ktype,) = key
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        vals, ids, ctzs, lev, n = (
            state.get if state.exists else ([], [], [], 0, 0)
        )
        vals, ids, ctzs = list(vals), list(ids), list(ctzs)
        lev, n = int(lev), int(n)
        for pdf in pdfs:
            n += len(pdf)
            for v, i, c in zip(pdf["value"], pdf["id"], pdf["ctz"]):
                c = int(c)
                if c >= lev:  # below-level rows can never re-enter
                    vals.append(float(v))
                    ids.append(int(i))
                    ctzs.append(c)
        while len(vals) > kk:
            lev += 1
            keep = [j for j, c in enumerate(ctzs) if c >= lev]
            vals = [vals[j] for j in keep]
            ids = [ids[j] for j in keep]
            ctzs = [ctzs[j] for j in keep]
        state.update((vals, ids, ctzs, lev, n))
        target = (n * 500 + 999) // 1000
        est = None
        if vals:
            ranked = sorted(zip(vals, ids))
            est = ranked[-1][0]
            for rn, (v, _) in enumerate(ranked, start=1):
                if rn * (1 << lev) >= target:
                    est = v
                    break
        yield _pd.DataFrame(
            {
                "event_type": [ktype],
                "n": [n],
                "level": [lev],
                "n_retained": [len(vals)],
                "est_p500": [est],
            }
        )

    return (
        events.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).alias("event_type"),
            F.col(value_col).alias("value"),
            F.col(id_col).alias("id"),
            ctz(F.col(id_col)).alias("ctz"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            handler,
            outputStructType=QSK_STREAM_SCHEMA,
            stateStructType=_QSK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
