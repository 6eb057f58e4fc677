"""Persisted ANN index (round-4 verdict item 7): the corpus-side work
(IVF assignment / LSH signatures) is written once; serving queries read
only index artifacts — same results as the from-scratch queries, with no
re-scan of the embeddings source and a co-located (bucketed) candidate
self-join for LSH."""

from __future__ import annotations

import os

from odc_stac_spark.queries.similarity import (
    ann_ivf_topk,
    ann_ivf_topk_from_index,
    ann_lsh_hyperplane,
    ann_lsh_pairs_from_index,
    build_ivf_index,
    build_lsh_index,
)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _input_files(df) -> list:
    """Full paths of every file the plan scans (the plan string truncates
    long locations, so it cannot be searched for a path)."""
    files = df.inputFiles()
    assert files
    return files


def test_ivf_from_index_equals_from_scratch_and_reads_only_index(
    spark, sf_dir, tmp_path
):
    p = str(tmp_path / "ivf")
    build_ivf_index(spark, sf_dir, p)
    # cent_id partition directories: probing prunes to NPROBE/K of these
    assert any(d.startswith("cent_id=") for d in os.listdir(p))

    got = ann_ivf_topk_from_index(spark, p)
    want = ann_ivf_topk(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # serving must not touch the embeddings source at all — every scan in
    # the plan is an index file
    assert all(p in f for f in _input_files(got))


def test_lsh_from_index_equals_from_scratch_no_signature_recompute(
    spark, sf_dir, tmp_path
):
    p = str(tmp_path / "lsh")
    table = "lsh_sigs_test_ann_index"
    build_lsh_index(spark, sf_dir, p, table)
    try:
        got = ann_lsh_pairs_from_index(spark, p, table)
        want = ann_lsh_hyperplane(spark, sf_dir)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        # signatures and vectors from index
        assert not any("embeddings" in f for f in _input_files(got))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_index_bucket_join_is_colocated(spark, sf_dir, tmp_path):
    """The signature table is bucketed by (l, b): with broadcast disabled
    the candidate self-join must be a sort-merge join with NO exchange on
    the bucket key — at 100 TB pair generation shuffles nothing."""
    p = str(tmp_path / "lsh")
    table = "lsh_sigs_test_bucketed"
    build_lsh_index(spark, sf_dir, p, table)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = ann_lsh_pairs_from_index(spark, p, table)
        plan = _executed_plan(df)
        assert "SortMergeJoin" in plan
        # no hash-exchange whose key starts with the bucket column `l`
        assert "hashpartitioning(l#" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_lsh_weights_and_sql_signature_match_expression_forms(spark, sf_dir):
    """r17 pins: (a) the driver-side hashlib hyperplane weights equal the
    Spark md5/conv expression they replaced, for all 24 planes; (b) the
    single-SQL-expression signature equals the per-plane HOF-fold
    formulation it replaced, row for row (integer dots are
    associativity-exact, so this must be bit-identical, not just
    approximately equal)."""
    import pyspark.sql.functions as F

    from odc_stac_spark.queries.similarity import (
        LSH_BITS,
        LSH_DIM,
        LSH_TABLES,
        _lsh_emb,
        _lsh_signatures,
        _lsh_weight_expr,
        _lsh_weights,
    )

    # (a) weight identity vs the original Spark expression arithmetic
    for l in range(LSH_TABLES):
        for h in range(LSH_BITS):
            prefix = f"{l}_{h}_"
            spark_w = list(
                spark.range(1)
                .select(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(LSH_DIM - 1)),
                        lambda d: (
                            F.conv(
                                F.substring(
                                    F.md5(F.concat(F.lit(prefix), d.cast("string"))),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("bigint")
                            % 2001
                            - 1000
                        ),
                    ).alias("w")
                )
                .collect()[0]["w"]
            )
            assert spark_w == _lsh_weights(prefix), prefix

    # (b) signature identity vs the old interpreted-fold formulation
    emb = _lsh_emb(spark, sf_dir).localCheckpoint(eager=True)
    bucket_structs = []
    for l in range(LSH_TABLES):
        bucket = None
        for h in range(LSH_BITS):
            w = _lsh_weight_expr(f"{l}_{h}_")
            dot = F.aggregate(
                F.zip_with(F.col("embi"), w, lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            bit = F.when(dot > 0, F.lit(1 << h).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            bucket = bit if bucket is None else bucket + bit
        bucket_structs.append(F.struct(F.lit(l).alias("l"), bucket.alias("b")))
    old = emb.select("vec_id", F.explode(F.array(*bucket_structs)).alias("s")).select(
        "vec_id", F.col("s.l").alias("l"), F.col("s.b").alias("b")
    )
    new = _lsh_signatures(emb)
    assert new.schema == old.schema
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
