"""BPE training/tokenization: distributed == reference merge sequence,
hand-computed toy case, and tokenizer round-trip properties."""

from ocrs_spark.ops.bpe import (
    bpe_tokenize_word,
    train_bpe_distributed,
    word_freq_table,
)

from .reference import train_bpe_reference

SF = "/root/testdata/sf0.001"


def test_reference_toy_case_hand_computed():
    # classic Sennrich example shape: freq-weighted pair counts
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe_reference(freqs, 4)
    # round 1: 'es' appears in newest(6)+widest(3)=9 — the max
    assert merges[0] == ("e", "s")
    # round 2: 'est' 9 beats 'lo' 7
    assert merges[1] == ("es", "t")
    # round 3: 'lo' 7
    assert merges[2] == ("l", "o")
    # round 4: 'low' 7
    assert merges[3] == ("lo", "w")


def test_reference_tie_breaks_lexicographic():
    freqs = {"ab": 1, "cd": 1}
    merges = train_bpe_reference(freqs, 2)
    assert merges == [("a", "b"), ("c", "d")]


def test_distributed_matches_reference_on_corpus(spark):
    words = word_freq_table(spark, SF)
    freqs = {r["w"]: r["count"] for r in words.collect()}
    ref = train_bpe_reference(freqs, 12)
    got = train_bpe_distributed(spark, words, 12)
    assert got == ref


def test_tokenize_roundtrip_and_merge_use(spark):
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe_reference(freqs, 6)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in list(freqs) + ["lowest", "newer", "wide", "stew"]:
        toks = bpe_tokenize_word(w, ranks)
        assert "".join(toks) == w  # lossless
        # no adjacent pair in the output may still be mergeable
        assert all(
            (a, b) not in ranks for a, b in zip(toks, toks[1:])
        )
    # trained words compress below char count
    assert len(bpe_tokenize_word("newest", ranks)) < len("newest")


def test_bpe_token_counts_row(spark):
    from ocrs_spark.ops.bpe import bpe_token_counts

    out = bpe_token_counts(spark, SF)
    rows = out.collect()
    assert len(rows) == 500
    for r in rows[:20]:
        # BPE merges only ever reduce token count vs characters, and a
        # nonempty doc has at least one token
        assert 0 < r["n_bpe_tokens"] <= r["n_chars"]
