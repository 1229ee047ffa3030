"""The north-star loop on the real table format: OCR the interleaved
corpus FROM an Iceberg table, write woven documents BACK to an Iceberg
table, resume after a simulated kill, and consume a later append
incrementally — with span-sequence equality (kind, text, media_ref,
order) against the single-shot run throughout."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocrs_spark.flagship import flagship_media, interleaved_documents
from ocrs_spark.iceberg import IcebergDocumentSink, IcebergTable
from ocrs_spark.pipeline import ocr_documents

SF = "/root/testdata/sf0.001"


def _span_map(df):
    """{doc_id: [(kind, text, media_ref, offset), ...] in span order}"""
    out = {}
    for row in df.collect():
        out[row.doc_id] = [
            (s.kind, s.text, s.media_ref, s.offset) for s in row.spans
        ]
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    docs = interleaved_documents(spark, SF).filter("doc_id < 120")
    media = flagship_media(spark)
    return docs, media


def test_ocr_iceberg_roundtrip_with_resume(spark, corpus, tmp_path_factory):
    docs, media = corpus
    base = tmp_path_factory.mktemp("icb_pipe")

    # source: the interleaved corpus as an Iceberg table
    source = IcebergTable.create(str(base / "source"), docs.schema)
    source.append(docs)
    loaded = IcebergTable.load(source.location).scan(spark)
    assert loaded.count() == docs.count()

    expected = _span_map(ocr_documents(loaded, media))

    # results: woven documents committed snapshot-by-snapshot
    woven_schema = ocr_documents(loaded.limit(1), media).schema
    sink = IcebergDocumentSink(str(base / "results"), spark, woven_schema)

    def remaining():
        return loaded.join(sink.committed().select("doc_id"), "doc_id", "left_anti")

    # run 1 processes half the corpus, then "dies"
    batch1 = remaining().filter("doc_id % 2 = 0")
    sink.commit_run(ocr_documents(batch1, media))

    # run 2 restarts: the committed doc_ids say exactly what's left
    todo = remaining()
    assert todo.count() == docs.count() - batch1.count()
    assert todo.filter("doc_id % 2 = 0").count() == 0
    sink.commit_run(ocr_documents(todo, media))
    assert remaining().count() == 0

    got = _span_map(sink.committed())
    assert got == expected  # span-sequence equality, both runs combined


def test_incremental_scan_drives_incremental_ocr(spark, corpus, tmp_path_factory):
    docs, media = corpus
    base = tmp_path_factory.mktemp("icb_incr")
    source = IcebergTable.create(str(base / "source"), docs.schema)
    source.append(docs.filter("doc_id < 60"))
    source.append(docs.filter("doc_id >= 60 AND doc_id < 90"))
    source.append(docs.filter("doc_id >= 90"))

    def window(from_seq, to_seq):
        # the changelog window as the stream source plans it; the table
        # is unpartitioned, so its data files hold every column
        files = source.plan_incremental_files(from_seq, to_seq)
        return spark.read.schema(docs.schema).parquet(*[f["file_path"] for f in files])

    # the consumer processed up to sequence number 1; one tick picks up
    # the second and third appends only
    delta = window(1, 3)
    got_ids = sorted(r.doc_id for r in delta.select("doc_id").collect())
    assert got_ids == sorted(
        r.doc_id for r in docs.filter("doc_id >= 60").select("doc_id").collect()
    )
    # bounded window: (1, 2] is just the second append
    assert window(1, 2).count() == docs.filter("doc_id >= 60 AND doc_id < 90").count()
    # from-table-start: everything
    assert window(0, 3).count() == docs.count()

    # the delta flows through the OCR pipeline like any batch
    woven = ocr_documents(delta, media)
    expected = _span_map(ocr_documents(docs.filter("doc_id >= 60"), media))
    assert _span_map(woven) == expected


def test_incremental_scan_refuses_replace_window(spark, corpus, tmp_path_factory):
    docs, _media = corpus
    base = tmp_path_factory.mktemp("icb_guard")
    source = IcebergTable.create(str(base / "source"), docs.schema)
    source.append(docs.filter("doc_id < 60"))
    source.append(docs.filter("doc_id >= 60"))
    source.compact(spark)
    with pytest.raises(ValueError, match="replace"):
        source.plan_incremental_files(1, 3)
