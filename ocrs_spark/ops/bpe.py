"""Distributed BPE tokenizer training + tokenization.

Byte-pair encoding (Sennrich et al. 2016, the GPT-2 training recipe):
repeatedly merge the most frequent adjacent symbol pair. The classic
scaling fact makes this Spark-friendly: after ONE corpus-scale pass
(word frequencies), training operates entirely on the DISTINCT-word
table — bounded by vocabulary (Zipf), independent of corpus size. At
100 TB the word-count groupBy is the only big shuffle; each of the K
merge rounds is a small job over ~1e6 distinct words:

- pair counting: explode each word's symbol array into adjacent pairs
  weighted by word frequency (pure expressions, codegen),
- best pair: one groupBy + orderBy(count desc, pair asc) limit 1 —
  the lexicographic tie-break makes training fully deterministic,
- merge application: Arrow pandas UDF over the distinct-word table
  (small), rewriting symbol arrays.

Tokenization broadcasts the ranked merge list and applies the standard
lowest-rank-first merge loop per word in an Arrow batch UDF.

Correctness: no SQL oracle can express iterative BPE, so the check is
two INDEPENDENT implementations — ``train_bpe_reference`` (plain
single-process Python, written from the published algorithm) must
produce the identical merge sequence as the distributed trainer on the
same corpus, and tokenization must round-trip (concat == word) while
using every trained merge. Symbols are characters; no end-of-word
marker (both implementations and the tokenizer agree on this
convention).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from pyspark.sql import functions as F

from . import load_tables
from ..matcache import once

N_MERGES = 20


# -- reference implementation (the parity check) ----------------------------


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


def _merge_once(syms: list[str], a: str, b: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_tokenize_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode: repeatedly merge the pair with the lowest
    merge rank until none applies."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        a, b = syms[best_i], syms[best_i + 1]
        syms = _merge_once(syms, a, b)
    return syms


# -- distributed trainer -----------------------------------------------------


def word_freq_table(spark, sf_dir: str):
    """The single corpus-scale pass: distinct words + frequencies."""
    (docs,) = load_tables(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .count()
    )


_PAIRS_EXPR = (
    "transform(sequence(0, size(s) - 2), i -> struct(s[i] AS a, s[i + 1] AS b))"
)


def train_bpe_distributed(spark, words_df, n_merges: int) -> list[tuple[str, str]]:
    """BPE merges from a (w, count) DataFrame. Each round: expression
    pair-explode + groupBy + top-1 (deterministic tie-break), then an
    Arrow UDF applies the merge to the symbol arrays. The driver holds
    only the merge list (K pairs)."""
    syms = words_df.select(
        "count", F.expr("split(w, '')").alias("s")
    ).filter(F.size("s") > 0)
    # Each round's table feeds the next; WITHOUT lineage truncation the
    # logical plan nests one mapInPandas per round and the plan string
    # alone OOMs the driver after ~15 rounds. localCheckpoint
    # materializes the round's (small, vocabulary-bounded) table on the
    # executors and cuts the plan back to a leaf — on a real cluster
    # use .checkpoint() to reliable storage for executor-loss safety.
    syms = syms.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (
            syms.filter(F.size("s") >= 2)
            .select("count", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("count").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))

        def _apply(batches, a=a, b=b):
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "count": pdf["count"],
                        "s": [
                            _merge_once(list(s), a, b) for s in pdf["s"]
                        ],
                    }
                )

        syms = syms.mapInPandas(
            _apply, schema="count bigint, s array<string>"
        ).localCheckpoint(eager=True)
    return merges


def trained_merges(spark, sf_dir: str) -> list[tuple[str, str]]:
    return once(
        spark,
        sf_dir,
        "bpe_merges",
        lambda _path: train_bpe_distributed(
            spark, word_freq_table(spark, sf_dir), N_MERGES
        ),
    )


def bpe_token_counts(spark, sf_dir: str):
    """(doc_id, n_bpe_tokens, n_chars): tokenize every document with
    the corpus-trained merges (broadcast as ranks). Rows-only check in
    the driver; the real correctness gate is reference parity + the
    round-trip property in pytest."""
    merges = trained_merges(spark, sf_dir)
    ranks = {pair: i for i, pair in enumerate(merges)}
    sc = spark.sparkContext
    b_ranks = sc.broadcast(ranks)
    (docs,) = load_tables(spark, sf_dir, "documents")

    def _tok(batches):
        r = b_ranks.value
        for pdf in batches:
            counts = [
                sum(len(bpe_tokenize_word(w, r)) for w in t.split(" ") if w)
                for t in pdf["text"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bpe_tokens": counts,
                    "n_chars": pdf["text"].str.len(),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        _tok, schema="doc_id bigint, n_bpe_tokens bigint, n_chars bigint"
    )


QUERIES = {"bpe_token_counts": bpe_token_counts}
ORACLES: dict = {}  # iterative training is not SQL-expressible: rows-only
