"""The output checker and the generator's expected-text rule."""

import copy

import pytest

from perfbench import workloads as W


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import harness
    from perfbench.proctree import ProcTree

    s = harness.start_session(str(tmp_path_factory.mktemp("work")))
    yield s
    harness.shutdown(s, ProcTree())


def _docs():
    corpus = W.ocr_pages(seed=5)
    return corpus.expected[:6]


def _failed(spark, actual, expected):
    from perfbench.harness import failed_docs

    df = lambda rows: spark.createDataFrame(rows, schema=W.DOCUMENTS_SCHEMA)  # noqa: E731
    return failed_docs(df(actual), df(expected))


def test_exact_output_passes(spark):
    expected = _docs()
    assert _failed(spark, copy.deepcopy(expected), expected) == 0


def test_wrong_order_document_fails(spark):
    expected = _docs()
    actual = copy.deepcopy(expected)
    spans = actual[2]["spans"]
    spans[0], spans[1] = spans[1], spans[0]  # same spans, woven out of order
    assert _failed(spark, actual, expected) == 1


def test_missing_duplicate_and_errored_documents_fail(spark):
    expected = _docs()
    actual = copy.deepcopy(expected)
    del actual[0]  # missing
    actual.append(copy.deepcopy(expected[1]))  # committed twice
    image = next(s for s in actual[3]["spans"] if s["kind"] == "image")
    image["text"] = None  # what a span whose extraction failed reweaves to
    assert _failed(spark, actual, expected) == 3


def test_each_pass_is_checked_on_its_own(spark):
    from pyspark.sql import functions as F

    from perfbench.harness import failed_docs

    expected = _docs()
    wrong = copy.deepcopy(expected)
    wrong[4]["spans"].reverse()  # the storage order of odd documents
    df = lambda rows: spark.createDataFrame(rows, schema=W.DOCUMENTS_SCHEMA)  # noqa: E731
    both = df(expected).withColumn("pass", F.lit(0).cast("long")).unionByName(
        df(wrong).withColumn("pass", F.lit(1).cast("long"))
    )
    assert failed_docs(both, df(expected), passes=2) == 1
    assert failed_docs(both, df(expected), passes=3) == len(expected) + 1  # pass 2 missing


@pytest.mark.parametrize("size", [W.PAGE_A, W.PAGE_B, W.SMALL])
def test_grid_rule_matches_library_get_text(size):
    """The expected text rule holds on the Spark-free library path."""
    from ocrs_spark.pipeline import build_engine

    engine = build_engine(W.ENGINE_CONF)
    shapes = [(1, 1), (3, 4)] if size == W.SMALL else [(4, 6), (10, 12), (7, 9)]
    for rows, cols in shapes:
        for jitter in range(4):
            grey = engine.prepare_input(W.draw_page(size, rows, cols, jitter, tag=rows * cols))
            assert engine.get_text(grey) == W.grid_text(rows, cols)


def test_zipf_counts_are_bounded_and_exact():
    counts = W.zipf_counts(100, 147, cap=32, s=2.0)
    assert sum(counts) == 147 and max(counts) == 32 and min(counts) == 1
    assert W.ocr_pages(1).image_spans == W.ocr_pages(2).image_spans == 147
