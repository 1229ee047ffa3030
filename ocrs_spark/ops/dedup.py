"""Deduplication operators over the documents/embeddings tables: exact,
MinHash+LSH banding, n-gram Jaccard, SimHash, and embedding-cosine
near-dup — the core large-corpus training-data cleaning ops.

Hashing is md5-based on BOTH the Spark and DuckDB sides (identical hex
strings; integers derived by parsing a fixed-width hex prefix), so value
hashes agree engine-to-engine. All shuffles are groupBy/join on hashed
keys — uniform by construction, no skew handling needed beyond AQE.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from . import load_tables

MINHASH_K = 8  # signature length
LSH_BANDS = 4  # bands of rows R = K / BANDS = 2
JACCARD_THRESHOLD = 0.5
# Embedding near-duplicate bar. 0.9 is a real near-dup threshold (the
# SemDeDup-style regime); at lower cosines the pairs are not duplicates
# and — on near-isotropic embeddings — no blocking scheme can be both
# selective and complete (at cos 0.3, theta=72.5°, a hyperplane agrees
# on the pair with p=0.597 vs 0.5 for random: measured here, 8x2 bands
# recall 0.97 but pass 89% of all pairs; centroid blocking recalls only
# 0.26). The synthetic test embeddings top out at cos~0.6, so BOTH
# engines augment the table with deterministic planted near-duplicates
# (see planted_embeddings below) to keep the driver row non-vacuous;
# recall proof is tests/test_ann_quality.py's planted near-duplicates.
COSINE_THRESHOLD = 0.9
EMB_LSH_BANDS = 8
EMB_LSH_ROWS = 8  # 256 buckets/band: ~3% random candidate rate,
                  # recall 1-(1-p^8)^8 >= 0.93 at cos 0.9, 0.99 at 0.95
EMB_PLANE_BASE = 300  # seed namespace disjoint from ANN planes
SIMHASH_BITS = 32


def shingles_df(docs):
    """(doc_id, s) exploded word 3-shingles via one Arrow-batched
    pandas_udf: pure string slicing/joining, byte-identical to the
    interpreted higher-order transform() it replaces (the tests keep
    that form as its oracle) and ~5x cheaper. (r6 note: an
    unconditional spread() here was measured to HURT multi-branch
    consumers — the extra round-robin exchange defeats subplan reuse
    across branches — so spreading is applied at single-pass call
    sites like _minhash_signature_df instead.)"""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def _shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split(" ")
            n = max(len(toks) - 2, 0)
            out.append([" ".join(toks[i : i + 3]) for i in range(n)])
        return pd.Series(out)

    return docs.select("doc_id", F.explode(_shingles("text")).alias("s"))

# Same shingles in DuckDB (1-based list indexing; range(a,b) is [a,b)).
_DUCK_SHINGLES = (
    "[string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' ||"
    " string_split(text, ' ')[i+2]"
    " for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]"
)


def dedup_exact(spark, sf_dir):
    """Exact dedup: md5(text) hash groups with >1 doc (may legitimately
    be empty on unique corpora — the oracle agrees either way)."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def distinct_shingle_arrays(docs):
    """(doc_id, arr, n): per-document DISTINCT word 3-shingles as one
    sorted array column (r6). Deduping inside the Arrow pass replaces
    the corpus-wide ``shingles_df(docs).distinct()`` exchange with a
    per-row set() — the distinct-token table every set-similarity
    consumer needs, landed without shuffling token-granularity rows.
    Sort order is binary-UTF8 == Python's code-point sort for this
    corpus, matching sort_array/array_sort semantics. Docs with no
    shingles (<3 tokens) are dropped, exactly as the explode form
    produced no rows for them."""
    from pyspark.sql.types import ArrayType, StringType

    from . import spread

    @F.pandas_udf(ArrayType(StringType()))
    def _arrs(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split(" ")
            n = max(len(toks) - 2, 0)
            out.append(
                sorted({" ".join(toks[i : i + 3]) for i in range(n)})
            )
        return pd.Series(out)

    return (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", _arrs("text").alias("arr"))
        .withColumn("n", F.size("arr").cast("long"))
        .filter(F.col("n") > 0)
    )


def _minhash_signature_df(spark, sf_dir):
    """(doc_id, s0..s{K-1}) minhash signatures over word 3-shingles.

    r6: the whole signature comes out of ONE Arrow pass (guide §4.2) —
    hashlib's C md5 over the identical `s + '#k'` strings, min by the
    same lexicographic hex order F.min used, per-doc distinct shingle
    sets built in Python (duplicates never change a min). The former
    shape paid a shingle explode plus a doc-keyed exchange for the
    K-min groupBy; nothing leaves the row now, and docs with no
    shingles produce no row exactly as the empty explode did. Pinned
    bitwise by the oracle sweep and the signature parity test."""
    from . import spread

    (docs,) = load_tables(spark, sf_dir, "documents")
    schema = "doc_id bigint, " + ", ".join(
        f"s{k} string" for k in range(MINHASH_K)
    )
    suffixes = [f"#{k}" for k in range(MINHASH_K)]

    def _sig_batches(batches):
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            out: dict = {"doc_id": []}
            for k in range(MINHASH_K):
                out[f"s{k}"] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                n = max(len(toks) - 2, 0)
                sh = {" ".join(toks[i : i + 3]) for i in range(n)}
                if not sh:
                    continue
                out["doc_id"].append(doc_id)
                for k, suf in enumerate(suffixes):
                    out[f"s{k}"].append(
                        min(md5((s + suf).encode()).hexdigest() for s in sh)
                    )
            yield pd.DataFrame(out)

    return spread(docs.select("doc_id", "text")).mapInPandas(
        _sig_batches, schema=schema
    )


def _bands_df(spark, sf_dir):
    # r6: ALL bands in one posexplode projection — the former per-band
    # select + unionAll re-ran the full signature aggregation once per
    # band whenever exchange reuse didn't kick in; one pass cannot.
    sig = _minhash_signature_df(spark, sf_dir)
    rows_per_band = MINHASH_K // LSH_BANDS
    band_hashes = F.array(
        *[
            F.md5(
                F.concat(
                    *[
                        F.col(f"s{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                )
            )
            for b in range(LSH_BANDS)
        ]
    )
    return sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band_index", "band_hash")
    )


def minhash_lsh_buckets(spark, sf_dir):
    """MinHash+LSH: banded signature buckets containing >1 document —
    the candidate generation step of near-dup detection at corpus scale
    (shingle -> K min-hashes -> bands -> bucket-join)."""
    return (
        _bands_df(spark, sf_dir)
        .groupBy("band_index", "band_hash")
        .agg(F.countDistinct("doc_id").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def _duck_minhash_cte() -> str:
    sig_cols = ", ".join(
        f"min(md5(s || '#{k}')) AS s{k}" for k in range(MINHASH_K)
    )
    rows_per_band = MINHASH_K // LSH_BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_index, "
        f"md5({' || '.join(f's{b * rows_per_band + r}' for r in range(rows_per_band))})"
        f" AS band_hash FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s FROM documents
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects})
"""


ORACLE_MINHASH = (
    _duck_minhash_cte()
    + """
SELECT band_index, band_hash, count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS min_doc_id
FROM bands GROUP BY 1, 2 HAVING count(DISTINCT doc_id) > 1
"""
)


def ngram_jaccard_pairs(spark, sf_dir):
    """Near-dup pairs: LSH candidates verified with exact Jaccard over
    distinct word-unigram sets (candidates only — never all-pairs).
    Landed to parquet once per (session, sf_dir): the verified-pair
    table is a real pipeline's durable artifact, consumed both directly
    and by corpus curation (``skew.curate_training_corpus``) — the
    expensive verify join should not re-run per consumer."""
    from ..matcache import materialize_once

    return materialize_once(
        spark, sf_dir, "jaccard_pairs", lambda: _ngram_jaccard_plan(spark, sf_dir)
    )


def _ngram_jaccard_plan(spark, sf_dir):
    bands = _bands_df(spark, sf_dir).select("band_index", "band_hash", "doc_id")
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_index", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    inter = (
        cand.join(toks.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            toks.alias("tb"),
            (F.col("doc_b") == F.col("tb.doc_id"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_toks") + F.col("sb.n_toks") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


ORACLE_JACCARD = (
    _duck_minhash_cte()
    + f"""
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_index = b.band_index AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
sizes AS (SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS n_inter
  FROM cand
  JOIN toks ta ON ta.doc_id = doc_a
  JOIN toks tb ON tb.doc_id = doc_b AND ta.tok = tb.tok
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       round(n_inter / (sa.n_toks + sb.n_toks - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n_toks + sb.n_toks - n_inter), 4) >= {JACCARD_THRESHOLD}
"""
)


def _signatures_udf(simhash: bool = True, fingerprint: bool = True):
    """Arrow-batched per-document signature kernel: frequency-weighted
    {SIMHASH_BITS}-bit SimHash plus the bottom-k shingle fingerprint in
    ONE pass over the text. Token hashes are memoized per batch (the
    corpus vocabulary is far smaller than the token stream, so most md5
    calls collapse into a dict hit) and the bit votes are one numpy
    reduceat over the flattened token-hash stream — no per-doc numpy
    allocation. fingerprint is NULL for docs with <3 tokens, mirroring
    the aggregate form where explode() of zero shingles drops the doc.
    The flags skip the unwanted half's hashing when a caller projects
    only one column (a struct-field projection does not stop the UDF
    from computing the whole struct)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .textstats import _FINGERPRINT_K

    schema = StructType(
        [
            StructField("simhash", LongType()),
            StructField("fingerprint", StringType()),
        ]
    )

    @F.pandas_udf(schema)
    def _signatures(texts: pd.Series) -> pd.DataFrame:
        import hashlib

        import numpy as np

        tok_lists = [t.split(" ") for t in texts]

        if simhash:
            vocab: dict = {}
            for toks in tok_lists:
                for tok in toks:
                    vocab[tok] = None
            for tok in vocab:
                vocab[tok] = int(
                    hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16
                )
            # split() yields >=1 token per doc, so segment bounds are
            # strictly increasing and reduceat never sees an empty
            # segment.
            lengths = np.fromiter(
                (len(t) for t in tok_lists), np.int64, len(tok_lists)
            )
            flat = np.fromiter(
                (vocab[tok] for toks in tok_lists for tok in toks),
                np.int64,
                int(lengths.sum()),
            )
            votes_per_tok = (
                ((flat[:, None] >> np.arange(SIMHASH_BITS)) & 1) * 2 - 1
            ).astype(np.int32)
            bounds = np.zeros(len(tok_lists), np.int64)
            np.cumsum(lengths[:-1], out=bounds[1:])
            votes = np.add.reduceat(votes_per_tok, bounds, axis=0)
            sim = (
                (votes > 0)
                * (np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64))
            ).sum(axis=1)
        else:
            sim = np.zeros(len(tok_lists), np.int64)

        if fingerprint:
            fps = []
            for toks in tok_lists:
                n = len(toks) - 2
                if n <= 0:
                    fps.append(None)
                    continue
                hs = {
                    hashlib.md5(
                        " ".join(toks[i : i + 3]).encode("utf-8")
                    ).hexdigest()
                    for i in range(n)
                }
                fps.append("|".join(sorted(hs)[:_FINGERPRINT_K]))
        else:
            fps = [None] * len(tok_lists)
        return pd.DataFrame({"simhash": sim, "fingerprint": fps})

    # Deterministic in fact; the flag only stops the optimizer from
    # cloning the kernel across the project/filter boundary (the
    # fingerprint-isNotNull filter otherwise re-evaluates it — same
    # pathology banded_buckets hit with InferFiltersFromGenerate).
    return _signatures.asNondeterministic()


def _narrow_docs(spark, sf_dir):
    """(doc_id, text) spread across the cores: small-SF parquet is a
    single file => one input partition, which would serialize a
    CPU-bound UDF. At real scale the scan already yields thousands of
    partitions and this round-robin exchange of the narrow projection
    is the only shuffle in the signature plan (vs. the aggregate form's
    per-token exploded shuffle + join)."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism
    )


def simhash_docs(spark, sf_dir):
    """Frequency-weighted {SIMHASH_BITS}-bit SimHash per document via
    the single-pass Arrow signature kernel (see _signatures_udf;
    simhash_docs_agg is the expression-form parity reference)."""
    sig = _signatures_udf(fingerprint=False)
    return _narrow_docs(spark, sf_dir).select(
        "doc_id", sig("text").getField("simhash").alias("simhash")
    )


def simhash_docs_agg(spark, sf_dir):
    """Expression/groupBy SimHash: the semantically-canonical parity
    reference for the Arrow kernel (token hash = 32-bit md5 prefix; bit
    b set iff the signed bit-vote sum is positive). Pays an exploded
    per-token shuffle the narrow form avoids."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return agg.select("doc_id", simhash.alias("simhash"))


def _duck_simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2 ** b}::BIGINT ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 8))::BIGINT AS h
  FROM documents
),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash FROM votes
"""


ORACLE_SIMHASH = _duck_simhash_sql()


def embedding_near_dup_pairs(emb, threshold: float = COSINE_THRESHOLD):
    """Core operator over any (vec_id, embedding) DataFrame: banded-LSH
    candidate generation (8 bands x 8 planes — fan-out bounded by bucket
    occupancy, never by a hot metadata value going quadratic, the
    round-1 label-blocking weakness) + exact double-precision cosine
    verification on candidates only (same fold order as the oracle so
    rounded values agree bit-for-bit)."""
    from .similarity import banded_buckets

    bb = banded_buckets(emb, EMB_LSH_BANDS, EMB_LSH_ROWS, EMB_PLANE_BASE)
    # In-bucket pair explosion instead of a bb-self-join: a self-join
    # re-executes the whole bucketing subtree (scan + matmul UDF) on
    # both sides, and broadcast-hash prevents ReusedExchange. One
    # groupBy computes the buckets ONCE; per-group pair fan-out is
    # bounded by bucket occupancy — the same bound the self-join had —
    # so the 100-TB behavior is unchanged while the small-SF plan drops
    # from 4 bucketing passes to 1. Sorted ids keep vec_a < vec_b,
    # matching the oracle's self-join candidates exactly.
    cand = (
        bb.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> transform("
                    "slice(ids, i + 2, size(ids)), "
                    "b -> named_struct('vec_a', a, 'vec_b', b))))"
                )
            ).alias("p")
        )
        .select("p.vec_a", "p.vec_b")
        .distinct()
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    # r6: cosine verify via the cumsum-sequential Arrow kernel — same
    # fold order as the former interpreted aggregate() lambdas (bitwise
    # parity pinned in tests), ~10x cheaper per candidate pair.
    from .similarity import seq_cosine_udf

    seq_cos = seq_cosine_udf()
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cos", F.round(seq_cos("ea", "eb"), 3))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


# The synthetic embeddings are near-isotropic (max pair cos ~0.6), so a
# cos>=0.9 near-dup query over the raw table is empty and the driver
# comparison would be vacuous (empty == empty). Both engines therefore
# AUGMENT the table with deterministic planted near-duplicates — a copy
# of each vec_id < PLANT_N with 0.25 added to its first coordinate
# (cos ~0.97 against the original; 0.25 is exactly representable, and
# float32 + float32 is IEEE-identical in Spark and DuckDB, so the
# augmented vectors are bit-equal engine-to-engine). The driver row is
# then non-empty: it asserts the full LSH-block + cosine-verify path
# recovers exactly the planted pairs with bit-identical scores.
PLANT_N = 6
PLANT_OFFSET = 1_000_000
_SPARK_PERTURB = (
    "concat(array(cast(element_at(embedding, 1) + cast(0.25 as float) as float)),"
    " slice(embedding, 2, size(embedding) - 1))"
)
_DUCK_PERTURB = "list_concat([embedding[1] + 0.25::FLOAT], embedding[2:])"


def planted_embeddings(emb):
    """(vec_id, embedding) with PLANT_N deterministic near-duplicates."""
    planted = emb.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.expr(_SPARK_PERTURB).alias("embedding"),
    )
    return emb.select("vec_id", "embedding").unionByName(planted)


def embedding_cosine_pairs(spark, sf_dir):
    """Embedding near-duplicate pairs at cos >= COSINE_THRESHOLD over
    the embeddings table augmented with planted near-duplicates (see
    embedding_near_dup_pairs / planted_embeddings)."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(planted_embeddings(emb))


def _emb_cosine_oracle() -> str:
    from .similarity import duck_banded_buckets

    bands_sql = duck_banded_buckets(
        EMB_LSH_BANDS, EMB_LSH_ROWS, EMB_PLANE_BASE, source="aug"
    )
    return f"""
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id, {_DUCK_PERTURB} AS embedding
  FROM embeddings WHERE vec_id < {PLANT_N}
),
bb AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
),
scored AS (
  SELECT vec_a, vec_b,
         round(
           list_sum(list_transform(list_zip(ea.embedding, eb.embedding), z -> z[1]::DOUBLE * z[2]::DOUBLE))
           / (sqrt(list_sum(list_transform(ea.embedding, x -> x::DOUBLE * x::DOUBLE)))
              * sqrt(list_sum(list_transform(eb.embedding, x -> x::DOUBLE * x::DOUBLE)))),
         3) AS cos
  FROM cand
  JOIN aug ea ON ea.vec_id = vec_a
  JOIN aug eb ON eb.vec_id = vec_b
)
SELECT vec_a, vec_b, cos FROM scored WHERE cos >= {COSINE_THRESHOLD}
"""


ORACLE_EMB_COSINE = _emb_cosine_oracle()


def doc_signatures(spark, sf_dir):
    """Per-document dedup signatures: frequency-weighted SimHash and the
    bottom-k shingle fingerprint in one contract row (the individual
    queries remain pytest-checked; this is the driver-contract
    consolidation). ONE scan + one Arrow kernel computing both columns
    — no exploded per-token shuffle, no join: the signature job a
    100-TB corpus wants is map-side only. Docs with <3 tokens have no
    shingles and are dropped, matching the aggregate form's inner join
    against an explode() that produced nothing for them."""
    sig = _signatures_udf()
    return (
        _narrow_docs(spark, sf_dir)
        .select("doc_id", sig("text").alias("sig"))
        .select("doc_id", "sig.simhash", "sig.fingerprint")
        .filter(F.col("fingerprint").isNotNull())
    )


def _doc_signatures_sql() -> str:
    from .textstats import ORACLE_FINGERPRINT

    return f"""
SELECT s.doc_id, s.simhash, f.fingerprint
FROM ({ORACLE_SIMHASH}) s JOIN ({ORACLE_FINGERPRINT}) f ON s.doc_id = f.doc_id
"""


ORACLE_DOC_SIGNATURES = _doc_signatures_sql()


QUERIES = {
    "dedup_exact": dedup_exact,
    "minhash_lsh_buckets": minhash_lsh_buckets,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "simhash_docs": simhash_docs,
    "simhash_docs_agg": simhash_docs_agg,
    "doc_signatures": doc_signatures,
    "embedding_cosine_pairs": embedding_cosine_pairs,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "minhash_lsh_buckets": ORACLE_MINHASH,
    "ngram_jaccard_pairs": ORACLE_JACCARD,
    "simhash_docs": ORACLE_SIMHASH,
    "simhash_docs_agg": ORACLE_SIMHASH,
    "doc_signatures": ORACLE_DOC_SIGNATURES,
    "embedding_cosine_pairs": ORACLE_EMB_COSINE,
}
