"""Single-value and expression-form twins of package kernels: the
oracles that tests check the package's fast paths against.

- ``transform_value``: the partition value one source value lands in,
  the Python twin of ``iceberg.partition_transform_column``;
- ``train_bpe_reference``: single-process BPE training, the twin of
  ``ops.bpe.train_bpe_distributed``;
- ``shingles_df_expr``: word 3-shingles as a Spark higher-order
  expression, the twin of ``ops.dedup.shingles_df``;
- ``banded_buckets_expr``: banded LSH buckets as per-plane
  ``aggregate()`` folds (the DuckDB oracles' arithmetic), the twin of
  ``ops.similarity.banded_buckets``.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from ocrs_spark.iceberg import bucket_value
from ocrs_spark.ops.bpe import _merge_once
from ocrs_spark.ops.similarity import (
    ANN_BAND_PLANE_BASE,
    ANN_BAND_ROWS,
    ANN_BANDS_B,
    EMB_DIM,
    _plane_expr,
)


def transform_value(value, transform: str, src_type: str):
    """Python-side twin of ``partition_transform_column`` for single
    values: derive the partition value a source-column value lands in,
    so callers can build ``partition_filter`` dicts from natural keys
    (e.g. a ``datetime.date`` -> its ``day`` ordinal) without knowing
    the transform encodings."""
    import datetime as _dt

    if value is None:
        return None
    if transform == "identity":
        return value
    if transform.startswith("bucket["):
        return bucket_value(value, src_type, int(transform[len("bucket[") : -1]))
    if transform.startswith("truncate["):
        w = int(transform[len("truncate[") : -1])
        if src_type in ("int", "long"):
            return int(value) - (int(value) % w)  # Python % == pmod
        if src_type == "string":
            return str(value)[:w]
        raise ValueError(f"truncate transform unsupported for {src_type}")
    if transform in ("year", "month", "day", "hour"):
        if isinstance(value, _dt.datetime):
            ts = value if value.tzinfo else value.replace(tzinfo=_dt.timezone.utc)
            ts = ts.astimezone(_dt.timezone.utc)
        elif isinstance(value, _dt.date):
            ts = _dt.datetime(value.year, value.month, value.day, tzinfo=_dt.timezone.utc)
        else:
            raise ValueError(f"temporal transform needs a date/datetime, got {type(value)}")
        if transform == "year":
            return ts.year - 1970
        if transform == "month":
            return (ts.year - 1970) * 12 + ts.month - 1
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        if transform == "day":
            return (ts - epoch).days
        return int((ts - epoch).total_seconds() // 3600)
    raise ValueError(f"unsupported transform {transform!r}")


def train_bpe_reference(word_freqs: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Single-process BPE training: (merge pairs in order). Ties on
    count break to the lexicographically smallest pair."""
    words = {w: list(w) for w in word_freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, syms in words.items():
            f = word_freqs[w]
            for pair in zip(syms, syms[1:]):
                counts[pair] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w, syms in words.items():
            words[w] = _merge_once(syms, a, b)
    return merges


# Word 3-shingles over a pre-split `toks` column (split() is hoisted
# into its own projection so the text is tokenized once per row, not
# once per shingle index).
_SPARK_SHINGLES_FROM_TOKS = (
    "transform(sequence(1, greatest(size(toks) - 2, 0)),"
    " i -> concat(element_at(toks, i), ' ',"
    " element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"
)


def shingles_df_expr(docs):
    """(doc_id, s) exploded word 3-shingles, expression form (the
    transform/sequence lambda is evaluated interpreted per element)."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(F.expr(_SPARK_SHINGLES_FROM_TOKS)).alias("s"))
    )


def _band_bucket_cols(n_bands: int, n_rows: int, plane_base: int, dim: int = EMB_DIM):
    """One bucket Column per band (R sign bits packed into an int),
    evaluated over an ``embedding`` column."""
    cols = []
    for band in range(n_bands):
        bucket = None
        for r in range(n_rows):
            p = plane_base + band * n_rows + r
            bit = F.when(F.expr(_plane_expr(dim, p)) > 0, F.lit(2 ** r)).otherwise(
                F.lit(0)
            )
            bucket = bit if bucket is None else bucket + bit
        cols.append(bucket.cast("long"))
    return cols


def banded_buckets_expr(
    emb,
    n_bands: int = ANN_BANDS_B,
    n_rows: int = ANN_BAND_ROWS,
    plane_base: int = ANN_BAND_PLANE_BASE,
):
    """Expression-form banded buckets: one scan + projection, unpivoted
    with posexplode. Semantically canonical (its per-plane aggregate()
    lambda is the same sequential left fold as the DuckDB oracle), but
    higher-order lambdas are evaluated interpreted per element — kept
    as the parity reference for the vectorized default below."""
    return emb.select(
        "vec_id", F.array(*_band_bucket_cols(n_bands, n_rows, plane_base)).alias("bks")
    ).select("vec_id", F.posexplode("bks").alias("band", "bucket"))
