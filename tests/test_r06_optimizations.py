"""Round-6 optimization parity tests: every rewrite that changed an
operator's internals is pinned against the shape it replaced (the
oracle sweep already pins end-to-end results; these isolate the
equivalences the rewrites rely on)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_seq_cosine_bitwise_equals_fold_expr(spark):
    """np.cumsum sequential fold == the interpreted aggregate() lambda,
    bit for bit, on the real embedding table (the claim seq_cosine_udf
    rests on)."""
    from ocrs_spark.ops.similarity import _cos_expr, seq_cosine_udf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.crossJoin(b).filter((F.col("ia") * 7 + F.col("ib")) % 11 == 0)
    seq = seq_cosine_udf()
    rows = (
        pairs.select(
            "ia",
            "ib",
            F.expr(_cos_expr("ea", "eb")).alias("c_fold"),
            seq("ea", "eb").alias("c_np"),
        )
        .collect()
    )
    assert rows, "sampled pair set must be non-empty"
    for r in rows:
        assert r["c_fold"] == r["c_np"], (r["ia"], r["ib"])


def test_distinct_shingle_arrays_matches_exploded_distinct(spark):
    """Per-doc Python set/sort dedup == shingles_df().distinct() +
    sort_array(collect_list) (what setjoin's token table build relies
    on), including the dropped empty-doc rows."""
    from ocrs_spark.ops.dedup import distinct_shingle_arrays, shingles_df

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ref = (
        shingles_df(docs)
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("s")).alias("arr"),
            F.count("*").cast("long").alias("n"),
        )
    )
    got = distinct_shingle_arrays(docs)
    ref_rows = {r["doc_id"]: (r["arr"], r["n"]) for r in ref.collect()}
    got_rows = {r["doc_id"]: (r["arr"], r["n"]) for r in got.collect()}
    assert got_rows == ref_rows


def test_python_minhash_signature_matches_aggregate_form(spark):
    """hashlib md5 + Python min over per-doc distinct shingles ==
    the former explode + groupBy(min(md5(concat(s, '#k')))) form,
    bit for bit, including which docs get a row."""
    from ocrs_spark.ops.dedup import (
        MINHASH_K,
        _minhash_signature_df,
        shingles_df,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    aggs = [
        F.min(F.md5(F.concat(F.col("s"), F.lit(f"#{k}")))).alias(f"s{k}")
        for k in range(MINHASH_K)
    ]
    ref = {
        r["doc_id"]: tuple(r[f"s{k}"] for k in range(MINHASH_K))
        for r in shingles_df(docs).groupBy("doc_id").agg(*aggs).collect()
    }
    got = {
        r["doc_id"]: tuple(r[f"s{k}"] for k in range(MINHASH_K))
        for r in _minhash_signature_df(spark, SF).collect()
    }
    assert got == ref


def test_posexplode_bands_match_unioned_bands(spark):
    """One posexplode projection == the former per-band select+union
    (dedup._bands_df and increment._bands_from_sig rely on this)."""
    from ocrs_spark.ops.dedup import LSH_BANDS, MINHASH_K, _minhash_signature_df
    from ocrs_spark.ops.increment import _bands_from_sig

    sig = _minhash_signature_df(spark, SF).localCheckpoint()
    rows_per_band = MINHASH_K // LSH_BANDS
    parts = []
    for b in range(LSH_BANDS):
        cols = [F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)]
        parts.append(
            sig.select(
                "doc_id",
                F.lit(b).alias("band_index"),
                F.md5(F.concat(*cols)).alias("band_hash"),
            )
        )
    ref = parts[0]
    for df in parts[1:]:
        ref = ref.unionAll(df)
    ref_set = {tuple(r) for r in ref.collect()}
    got_set = {tuple(r) for r in _bands_from_sig(sig).collect()}
    assert got_set == ref_set


def test_watermark_vectorized_scan_matches_sequential(spark):
    """np.maximum.accumulate lateness == the per-row running-max loop."""
    from ocrs_spark.ops.watermark import _lateness
    from ocrs_spark.ops import load_tables

    (events,) = load_tables(spark, SF, "events")
    got = sorted(r["lateness_s"] for r in _lateness(events).collect())

    # sequential reference on the driver, same jitter + ordering
    import hashlib

    rows = events.select(
        "event_id",
        F.expr(
            "cast(to_unix_timestamp(cast(ts AS timestamp)) AS bigint)"
        ).alias("es"),
    ).collect()
    ref_rows = []
    for r in rows:
        j = int(hashlib.md5(str(r["event_id"]).encode()).hexdigest()[:8], 16)
        # Spark's % keeps the dividend sign; event hashes are positive
        ref_rows.append((r["es"] + j % 14401 - 7200, r["event_id"], r["es"]))
    ref_rows.sort()
    run = None
    ref = []
    for _arr, _eid, es in ref_rows:
        ref.append(0 if run is None else max(0, run - es))
        run = es if run is None else max(run, es)
    assert got == sorted(ref)


def test_fuzzy_filter_distinct_commute(spark):
    """filter-then-distinct == distinct-then-filter for the blocked
    edit-distance join (what the r6 fuzzyjoin rewrite relies on)."""
    from ocrs_spark.ops.fuzzyjoin import MAX_DIST, entity_tables, fuzzy_match
    from ocrs_spark.ops import load_tables

    (cust,) = load_tables(spark, SF, "customer")
    dirty, canon = entity_tables(cust)
    got = {tuple(r) for r in fuzzy_match(dirty, canon).collect()}
    d = dirty.select(
        "dirty_key",
        "dirty_name",
        F.substring("dirty_name", 1, 4).alias("h1"),
        F.substring("dirty_name", 5, 4).alias("h2"),
    )
    c = canon.select(
        "canon_key",
        "canon_name",
        F.substring("canon_name", 1, 4).alias("h1"),
        F.substring("canon_name", 5, 4).alias("h2"),
    )
    ref = (
        d.join(c.drop("h2"), "h1")
        .select("dirty_key", "dirty_name", "canon_key", "canon_name")
        .unionByName(
            d.join(c.drop("h1"), "h2").select(
                "dirty_key", "dirty_name", "canon_key", "canon_name"
            )
        )
        .distinct()
        .withColumn(
            "dist", F.levenshtein("dirty_name", "canon_name").cast("int")
        )
        .filter(F.col("dist") <= MAX_DIST)
        .select("dirty_key", "canon_key", "dist")
    )
    assert got == {tuple(r) for r in ref.collect()}


def test_kmv_merged_sketch_equals_per_side_merge(spark):
    """Global top-K of the merged side-flag table == the former
    per-side K-sketch merge (the kmv single-pass rewrite's theorem)."""
    from pyspark.sql import Window

    from ocrs_spark.ops.kmv import (
        _HEX_DIGITS,
        K,
        SIDE_A,
        SIDE_B,
        _kmin,
        _side_tokens,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = _side_tokens(docs, SIDE_A, "a").unionByName(
        _side_tokens(docs, SIDE_B, "b")
    )
    sketches = _kmin(toks, K)
    both = sketches.groupBy("tok", "h").agg(
        F.collect_set("side").alias("sides")
    )
    union_k = (
        both.withColumn("__r", F.row_number().over(Window.orderBy("h", "tok")))
        .filter(F.col("__r") <= K)
    )
    ref = union_k.agg(
        F.max("h").alias("kth"),
        F.sum((F.size("sides") == 2).cast("int")).alias("n_both"),
        F.count("*").alias("n_rows"),
    ).first()

    from ocrs_spark.ops.dedup import shingles_df

    merged = (
        shingles_df(docs.filter(f"({SIDE_A}) OR ({SIDE_B})"))
        .select(
            F.col("s").alias("tok"),
            F.expr(SIDE_A).cast("int").alias("ia"),
            F.expr(SIDE_B).cast("int").alias("ib"),
        )
        .groupBy("tok")
        .agg(F.max("ia").alias("in_a"), F.max("ib").alias("in_b"))
        .withColumn(
            "h",
            F.conv(F.substring(F.md5("tok"), 1, _HEX_DIGITS), 16, 10)
            .cast("double")
            / F.lit(float(16**_HEX_DIGITS)),
        )
    )
    got_k = (
        merged.withColumn("__r", F.row_number().over(Window.orderBy("h", "tok")))
        .filter(F.col("__r") <= K)
    )
    got = got_k.agg(
        F.max("h").alias("kth"),
        F.sum((F.col("in_a") + F.col("in_b") == 2).cast("int")).alias("n_both"),
        F.count("*").alias("n_rows"),
    ).first()
    assert (got["kth"], got["n_both"], got["n_rows"]) == (
        ref["kth"],
        ref["n_both"],
        ref["n_rows"],
    )


def test_broadcast_decision_memoized(spark):
    """One size aggregate per distinct media table per session: the
    second _media_fits_broadcast call on a semantically identical plan
    must hit the cache; a different table must not."""
    from ocrs_spark import pipeline as P

    media = spark.createDataFrame(
        [("m1", bytearray(b"xx"))], "media_ref string, bytes binary"
    )
    P._BROADCAST_DECISION_CACHE.clear()
    before = P._BROADCAST_AGGS_RUN
    first = P._media_fits_broadcast(media.select("media_ref", "bytes"))
    second = P._media_fits_broadcast(media.select("media_ref", "bytes"))
    assert first is True and second is True
    assert P._BROADCAST_AGGS_RUN == before + 1, "second call re-aggregated"
    other = spark.createDataFrame(
        [("m2", bytearray(b"yyyy"))], "media_ref string, bytes binary"
    )
    assert P._media_fits_broadcast(other) is True
    assert P._BROADCAST_AGGS_RUN == before + 2, "distinct table must re-measure"


def test_broadcast_decision_one_aggregate_under_concurrent_callers(spark):
    """Threads deciding for the same table at once run one size
    aggregate between them: the cache check, the aggregate and the
    cache write are one critical section."""
    import sys
    import threading

    from ocrs_spark import pipeline as P

    media = spark.createDataFrame(
        [("m1", bytearray(b"xyz"))], "media_ref string, bytes binary"
    ).select("media_ref", "bytes")
    P._BROADCAST_DECISION_CACHE.clear()
    before = P._BROADCAST_AGGS_RUN
    results = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: results.append(P._media_fits_broadcast(media)))
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert results == [True] * 8
    assert P._BROADCAST_AGGS_RUN == before + 1


def test_broadcast_decision_without_semantic_hash(spark, monkeypatch):
    """When the private JVM semanticHash call fails, the decision is
    still made, by its own aggregate each time, and nothing is cached."""
    from py4j.protocol import Py4JError

    from ocrs_spark import pipeline as P

    media = spark.createDataFrame(
        [("m1", bytearray(b"xx"))], "media_ref string, bytes binary"
    ).select("media_ref", "bytes")
    real = media._jdf

    class _NoSemanticHash:
        def __getattr__(self, name):
            if name == "queryExecution":
                raise Py4JError("queryExecution does not exist in the JVM")
            return getattr(real, name)

    monkeypatch.setattr(media, "_jdf", _NoSemanticHash())
    P._BROADCAST_DECISION_CACHE.clear()
    before = P._BROADCAST_AGGS_RUN
    assert P._media_fits_broadcast(media) is True
    assert P._media_fits_broadcast(media) is True
    assert P._BROADCAST_AGGS_RUN == before + 2
    assert P._BROADCAST_DECISION_CACHE == {}


def test_quality_checks_pruned_profile_matches_full(spark):
    """data_quality_checks' pruned profile spec yields row-identical
    verdicts to deriving them from the full PROFILE_SPEC profile."""
    from ocrs_spark.ops import profiling as prof_mod

    got = {
        tuple(r)
        for r in prof_mod.data_quality_checks(spark, SF).collect()
    }
    # reference: rebuild the same verdicts from the FULL profile by
    # temporarily making the pruned spec the full one
    full = {
        tuple(r)
        for r in _quality_checks_from_full_profile(prof_mod, spark)
    }
    assert got == full and len(got) == len(prof_mod.CHECKS)


def _quality_checks_from_full_profile(prof_mod, spark):
    import unittest.mock as mock

    orig = prof_mod.data_profile

    def full_profile(s, d, spec=None):
        return orig(s, d, spec=None)  # force the full PROFILE_SPEC

    with mock.patch.object(prof_mod, "data_profile", full_profile):
        return prof_mod.data_quality_checks(spark, SF).collect()
