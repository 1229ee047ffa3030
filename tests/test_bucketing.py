"""Bucketed co-located join: pre-bucketing both sides of a recurring
join key eliminates the shuffle entirely — the strategy for repeated
fact-fact joins at 100 TB (bucket once at write time, join shuffle-free
forever after)."""

import shutil

from pyspark.sql import functions as F


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("orders_b")
    )
    (
        lineitem.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("lineitem_b")
    )
    # At this SF the tables are broadcast-size; disable broadcast so the
    # planner must pick a shuffled join — which the bucketing then makes
    # shuffle-free.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("lineitem_b")
            .join(
                spark.table("orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    tree = plan.split("\n\n(")[0]  # the operator tree, before op details
    assert "SortMergeJoin" in tree
    # The join inputs read pre-bucketed data: the only Exchange in the
    # tree is the one above the join for the final aggregation.
    n_exchanges = tree.count("Exchange")
    assert n_exchanges <= 1, f"shuffles below bucketed join:\n{tree}"

    # And the result is still correct.
    expected = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .count()
    )
    got = {(r["o_orderpriority"], r["n"]) for r in joined.collect()}
    want = {(r["o_orderpriority"], r["count"]) for r in expected.collect()}
    assert got == want
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_vectorized_shingles_match_expression_form(spark):
    """The pandas_udf shingle path must produce byte-identical exploded
    shingles to the canonical transform() expression form (which is
    what the DuckDB oracles mirror)."""
    from ocrs_spark.ops.dedup import shingles_df

    from .reference import shingles_df_expr

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fast = sorted(map(tuple, shingles_df(docs).collect()))
    ref = sorted(map(tuple, shingles_df_expr(docs).collect()))
    assert fast == ref and len(fast) > 0


def test_signature_kernel_matches_aggregate_forms(spark, tmp_path):
    """The single-pass Arrow signature kernel must agree with the
    explode/groupBy parity forms on a corpus exercising the edges the
    driver testdata lacks: empty text, 1- and 2-token docs (no
    shingles: absent from fingerprint/signatures but PRESENT in
    simhash), repeated tokens (frequency-weighted votes), consecutive
    spaces (empty tokens), and exactly-3-token docs."""
    import pandas as pd

    from ocrs_spark.ops.dedup import (
        doc_signatures,
        simhash_docs,
        simhash_docs_agg,
    )
    from ocrs_spark.ops.textstats import doc_fingerprint, doc_fingerprint_agg

    corpus = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(7)],
            "text": [
                "",
                "one",
                "two tokens",
                "three token doc",
                "a b c d e f g",
                "rep rep rep rep other",
                "gap  double  space",
            ],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(corpus).coalesce(1).write.parquet(
        f"{sf}/documents.parquet"
    )

    sim = sorted(map(tuple, simhash_docs(spark, sf).collect()))
    sim_ref = sorted(map(tuple, simhash_docs_agg(spark, sf).collect()))
    assert sim == sim_ref and len(sim) == 7

    fp = sorted(map(tuple, doc_fingerprint(spark, sf).collect()))
    fp_ref = sorted(map(tuple, doc_fingerprint_agg(spark, sf).collect()))
    assert fp == fp_ref and len(fp) == 4  # docs with >=3 tokens only

    sigs = sorted(map(tuple, doc_signatures(spark, sf).collect()))
    want = {d: (s, f) for (d, s) in sim for (d2, f) in fp if d2 == d}
    assert sigs == sorted((d, s, f) for d, (s, f) in want.items())
