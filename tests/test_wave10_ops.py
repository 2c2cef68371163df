"""Wave-10 semantics beyond the oracle twins: exactness properties the
value-hash compare can't articulate (split-count invariants, shuffle
determinism, quantizer fixed points, span reconstruction)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_stratified_split_exact_counts(spark):
    """Per stratum: n_train == (8n) div 10 and n_val == (9n) div 10 -
    (8n) div 10 EXACTLY — the whole point vs Bernoulli splitting."""
    from ipeds_etl_spark.queries.curation import q_docs_stratified_split_exact

    rows = q_docs_stratified_split_exact(spark, SF).collect()
    by_stratum: dict[tuple, dict[str, int]] = {}
    for r in rows:
        by_stratum.setdefault((r.source, r.lang), {})[r.split] = r.n_docs
    assert by_stratum
    for (_src, _lang), splits in by_stratum.items():
        n = sum(splits.values())
        assert splits.get("train", 0) == (8 * n) // 10
        assert splits.get("val", 0) == (9 * n) // 10 - (8 * n) // 10
        assert splits.get("test", 0) == n - (9 * n) // 10


def test_stratified_split_input_order_invariant(spark):
    """The hash ordering makes the assignment a pure function of ids:
    feeding the corpus in reversed order yields identical checksums."""
    from ipeds_etl_spark.queries.curation import q_docs_stratified_split_exact
    from ipeds_etl_spark.sources.tables import load_table

    base = {
        (r.source, r.lang, r.split): (r.n_docs, r.id_checksum)
        for r in q_docs_stratified_split_exact(spark, SF).collect()
    }
    d = load_table(spark, SF, "documents").orderBy(F.desc("doc_id"))
    d.createOrReplaceTempView("__docs_rev")
    # rebuild the same pipeline over the reversed frame
    from pyspark.sql import Window

    w = Window.partitionBy("source", "lang").orderBy("h", "doc_id")
    cw = Window.partitionBy("source", "lang")
    r = (
        d.select("doc_id", "source", "lang",
                 F.sha2(F.col("doc_id").cast("string"), 256).alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(cw))
    )
    split = (
        F.when(F.expr("rn <= (8 * n) div 10"), "train")
        .when(F.expr("rn <= (9 * n) div 10"), "val")
        .otherwise("test")
    )
    got = {
        (x.source, x.lang, x.split): (x.n_docs, x.id_checksum)
        for x in r.select("source", "lang", "doc_id", split.alias("split"))
        .groupBy("source", "lang", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("doc_id").cast("long").alias("id_checksum"))
        .collect()
    }
    assert got == base


def test_epoch_shuffle_differs_by_epoch_but_is_reproducible(spark):
    from ipeds_etl_spark.queries.curation import q_docs_epoch_shuffle_blocks

    a = {(r.epoch, r.block): r.id_checksum
         for r in q_docs_epoch_shuffle_blocks(spark, SF).collect()}
    b = {(r.epoch, r.block): r.id_checksum
         for r in q_docs_epoch_shuffle_blocks(spark, SF).collect()}
    assert a == b  # reproducible
    e0 = [v for (e, _blk), v in a.items() if e == 0]
    e1 = [v for (e, _blk), v in a.items() if e == 1]
    assert sum(e0) == sum(e1)  # same corpus mass per epoch
    assert sorted(e0) != sorted(e1)  # but a different permutation


def test_sq8_constant_dim_and_exact_grid_points(spark):
    """A dimension with zero range contributes zero error (guarded
    division), and values ON the 256-level grid reconstruct exactly."""
    from ipeds_etl_spark.queries.vectors import _SQ_DIM, q_emb_sq8_distortion

    # grid-exact corpus: every component is mn + k*(mx-mn)/255 for some
    # integer k -> distortion must be exactly 0
    rows = [
        (i, [float(j % 2) for j in range(_SQ_DIM)], 0)  # values in {0,1}
        for i in range(8)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet("/tmp/sq8_grid/embeddings.parquet")
    out = q_emb_sq8_distortion(spark, "/tmp/sq8_grid").collect()
    assert len(out) == 1
    assert out[0].total_err_q == 0 and out[0].max_vec_err_q == 0


def test_shared_span_profile_reconstructs_planted_span(spark, tmp_path):
    """Two docs sharing one literal 10-token run (plus distinct tails
    long enough to keep them un-identical) must report longest span =
    10 tokens when the LSH stage surfaces the pair."""
    from ipeds_etl_spark.operators.dedup import lsh_candidate_pairs
    from ipeds_etl_spark.functions import text as TX

    shared = " ".join(f"run{i}" for i in range(10))
    a_text = shared + " " + " ".join(f"atail{i}" for i in range(3))
    b_text = shared + " " + " ".join(f"btail{i}" for i in range(3))
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    pairs = lsh_candidate_pairs(df, "text", "doc_id")
    if not pairs.take(1):  # geometry didn't collide this fixture: n/a
        import pytest

        pytest.skip("fixture pair not surfaced by default LSH geometry")
    from pyspark.sql import Window

    toks = df.select("doc_id", TX.tokens(F.col("text")).alias("w"))
    shp = toks.select(
        "doc_id", F.posexplode(TX.shingles_of(F.col("w"))).alias("pos0", "sh")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "sh")
    a = pairs.join(shp.withColumnRenamed("doc_id", "id_a"), "id_a")
    bset = shp.select(F.col("doc_id").alias("id_b"), "sh").distinct()
    sharedp = a.join(bset, ["id_b", "sh"]).select("id_a", "id_b", "pos")
    w = Window.partitionBy("id_a", "id_b").orderBy("pos")
    runs = sharedp.withColumn("grp", F.col("pos") - F.row_number().over(w))
    spans = runs.groupBy("id_a", "id_b", "grp").agg(
        F.count(F.lit(1)).alias("len")
    )
    longest = spans.agg(F.max("len")).collect()[0][0]
    # 10 shared tokens = 8 consecutive shared 3-shingles -> 8+2 tokens
    assert longest + 2 == 10
