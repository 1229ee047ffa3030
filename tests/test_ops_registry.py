"""The op registry is discovered from the ``ocrs_spark.ops`` package:
pin the key sets it yields so a module that stops exporting (or a new
one that starts) shows up as a diff here."""

from __future__ import annotations

import pytest

from ocrs_spark import ops


def test_registry_key_sets():
    queries, oracles = ops.all_queries(), ops.all_oracles()
    assert len(queries) == 212
    assert len(oracles) == 207
    assert set(oracles) <= set(queries)
    # ops whose result is not SQL-expressible: rows-only checks
    assert set(queries) - set(oracles) == {
        "ann_ivf_kmeans_topk",
        "bpe_token_counts",
        "image_dedup_clusters",
        "image_dhash_pairs",
        "text_clean",
    }


def test_registry_rejects_duplicate_keys(monkeypatch):
    from ocrs_spark.ops import bpe, zipf

    monkeypatch.setitem(zipf.QUERIES, "bpe_token_counts", bpe.QUERIES["bpe_token_counts"])
    with pytest.raises(ValueError, match="bpe_token_counts"):
        ops.all_queries()
