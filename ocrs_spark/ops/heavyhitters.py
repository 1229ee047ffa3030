"""Heavy-hitter tokens: every token whose corpus frequency exceeds
N/K, found with a mergeable Misra-Gries sketch + an exact verification
pass — the frequency member of the engine's mergeable-sketch trio
(profiling's HLL distinct counts, quantiles' KLL ranks, MG here).

Why not just groupBy(token)? That's the exact pass — and for the FULL
vocabulary it's a corpus-sized shuffle whose reduce state is the
vocabulary itself. The MG sketch bounds per-task memory at K counters
regardless of vocabulary (the 100-TB property), and its classic
guarantee makes the two-pass split sound: an item's sketch undercount
is at most that partition's total decrement, so

  candidates := {token : summed sketch count + total decrement >= N/K}

is a SUPERSET of the true heavy set — the exact pass then counts ONLY
candidates (a broadcast semi-join filter + groupBy over a K-bounded
key set) and applies the threshold exactly. No heavy item can be
missed; false candidates die in verification.

The per-partition sketch is vectorized: each Arrow batch folds in via
value_counts (no per-row Python), and when the counter table exceeds K
the whole table decrements by its (K+1)-th largest count — the batched
generalization of MG's decrement step, preserving the undercount
bound, which the sketch reports per partition as a ledger row.

The driver row is the EXACT final answer (groupBy-having semantics),
so the DuckDB oracle is plain SQL; the sketch's superset guarantee and
size bound are pytest-held (same evidence pattern as the KLL sketch).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load_tables

K = 200  # sketch capacity; threshold is N/K

_TOKENS = "filter(split(text, ' '), w -> w <> '')"


def _mg_partition(k: int, buffer_rows: int = 1 << 16):
    """MG sketch over one partition. The session pins Arrow batches to
    64 rows (media payloads elsewhere are huge); paying pandas overhead
    per 64-row sliver made the scan 10x slower than the explode itself,
    so slivers buffer to ``buffer_rows`` before each vectorized fold
    (value_counts -> Counter.update) — memory stays bounded at
    k + buffer_rows counters between trims."""
    from collections import Counter

    def _fold(counts: Counter, frames: list) -> int:
        vc = pd.concat(frames, ignore_index=True).value_counts()
        counts.update(dict(zip(vc.index, vc.values.tolist())))
        if len(counts) > k:
            # batched MG decrement: subtract the (k+1)-th largest
            # count from everything; drop the non-positive tail
            cut = sorted(counts.values(), reverse=True)[k]
            for w in list(counts):
                left = counts[w] - cut
                if left > 0:
                    counts[w] = left
                else:
                    del counts[w]
            return cut
        return 0

    def sketch(batches):
        counts: Counter = Counter()
        decremented = 0
        buf, size = [], 0
        for pdf in batches:
            buf.append(pdf["w"])
            size += len(pdf)
            if size >= buffer_rows:
                decremented += _fold(counts, buf)
                buf, size = [], 0
        if buf:
            decremented += _fold(counts, buf)
        out = pd.DataFrame(
            {"w": list(counts.keys()), "c": list(counts.values())}
        )
        out["d"] = 0
        ledger = pd.DataFrame({"w": ["\x00decr"], "c": [0], "d": [decremented]})
        yield pd.concat([out, ledger], ignore_index=True)

    return sketch


def mg_candidates(toks: DataFrame, k: int = K, n: DataFrame | None = None) -> DataFrame:
    """(w, est) candidate superset of tokens with freq >= N/k, plus the
    global undercount bound folded in. ``toks`` is one column ``w``;
    ``n`` is an optional precomputed 1-row (n) total so callers that
    already know the token count don't pay a second corpus scan."""
    # r6: spread the token stream before the sketch pass — the sf
    # corpora scan as ONE partition (single-row-group parquet), so the
    # Misra-Gries pass otherwise runs as a single serial Python task
    # (guide §2.5); on a multi-file table this adds nothing.
    from . import spread

    summaries = spread(toks).mapInPandas(
        _mg_partition(k), schema="w string, c long, d long"
    )
    merged = summaries.groupBy("w").agg(
        F.sum("c").alias("c"), F.sum("d").alias("d")
    )
    bound = merged.agg(F.sum("d").alias("decr"))
    if n is None:
        n = toks.agg(F.count("*").alias("n"))
    return (
        merged.filter(F.col("w") != "\x00decr")
        .crossJoin(F.broadcast(bound))
        .crossJoin(F.broadcast(n))
        # undercount <= total decrement; keep if it COULD clear N/k
        .filter((F.col("c") + F.col("decr")) * k >= F.col("n"))
        .select("w", F.col("c").alias("est"))
    )


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str, k: int = K) -> DataFrame:
    """Exact (token, cnt) for every token with cnt * k > N — sketch
    pass to bound the candidate set, exact pass to count it. Each text
    is split once into a token array; the arrays are materialized with
    an eager localCheckpoint and read by three consumers: the sketch
    pass and the exact pass each explode them, and the token total is
    sum(size(tokens)) over them (a projection, not a third explode).
    The checkpoint cuts lineage: losing an executor loses its blocks
    and fails the job instead of recomputing them, and the whole
    tokenized corpus must fit executor storage."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    # r6: split each text exactly once. The token arrays are spread
    # (the sf corpora scan as ONE parquet partition) and checkpointed,
    # so BOTH passes explode from parallel materialized rows — without
    # this the exact pass's partial aggregation ran as a single serial
    # task and the split expression evaluated three times (sketch,
    # exact, token total).
    from . import spread

    arrays = spread(docs.select(F.expr(_TOKENS).alias("ws"))).localCheckpoint(
        eager=True
    )
    toks = arrays.select(F.explode("ws").alias("w"))
    n = arrays.agg(F.sum(F.size("ws")).cast("long").alias("n"))
    cand = mg_candidates(toks, k, n)
    return (
        toks.join(F.broadcast(cand.select("w")), "w", "left_semi")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("cnt") * k > F.col("n"))
        .select(F.col("w").alias("token"), "cnt")
    )


ORACLE_HEAVY_HITTERS = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM documents
),
n AS (SELECT count(*)::BIGINT AS n FROM toks)
SELECT w AS token, count(*)::BIGINT AS cnt
FROM toks CROSS JOIN n
GROUP BY w, n
HAVING count(*) * {K} > n
"""


QUERIES = {"heavy_hitter_tokens": heavy_hitter_tokens}
ORACLES = {"heavy_hitter_tokens": ORACLE_HEAVY_HITTERS}
