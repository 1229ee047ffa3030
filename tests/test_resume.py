"""Resume/checkpoint tests: kill after a partial commit, re-run, assert
no duplicate work and an identical final table (SURVEY.md §5 test plan)."""

import pytest

from pyspark.sql import functions as F

from ocrs_spark.checkpoint import DocumentCheckpoint, run_checkpointed
from ocrs_spark.fixtures import DOCUMENTS_SCHEMA, MEDIA_SCHEMA
from ocrs_spark.pipeline import explode_spans, extraction_metrics, ocr_image_spans

from .corpus import corpus_to_spark, generate_corpus


@pytest.fixture(scope="module")
def frames(spark):
    docs, media, expected = corpus_to_spark(spark, generate_corpus(n_docs=20, seed=11))
    return docs.cache(), media.cache(), expected.cache()


def spans_as_tuples(df):
    rows = df.select("doc_id", "spans").collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def test_partial_commit_then_resume(spark, frames, tmp_path_factory):
    docs, media, expected = frames
    ckpt_dir = tmp_path_factory.mktemp("ckpt")
    ckpt = DocumentCheckpoint(str(ckpt_dir))

    # "Killed" first run: only half the documents were processed and
    # committed before the crash.
    first_half = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    snap1 = run_checkpointed(first_half, media, ckpt)
    assert snap1 is not None and snap1["snapshot_id"] == 1
    n_first = ckpt.committed_doc_ids(spark).count()
    assert 0 < n_first < docs.count()

    # Restart over the FULL input: pruning must skip committed docs.
    snap2 = run_checkpointed(docs, media, ckpt)
    assert snap2 is not None and snap2["snapshot_id"] == 2
    assert snap2["metrics"]["docs"] <= docs.count() - n_first

    # Final table: every doc exactly once, spans equal to expected.
    result = ckpt.read_result(spark)
    assert result.count() == docs.count()
    assert result.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert spans_as_tuples(result) == spans_as_tuples(expected)

    # Idempotent third run: nothing left to do, no new snapshot, and
    # the data it wrote for its empty result is gone again.
    assert run_checkpointed(docs, media, ckpt) is None
    assert len(ckpt.snapshots()) == 2
    assert sorted(p.name for p in (ckpt_dir / "data").iterdir()) == sorted(
        s["run_id"] for s in ckpt.snapshots()
    )
    # The root holds only what is read: the manifests, whose snapshot
    # entries carry each run's metrics, and the committed data.
    assert {p.name for p in ckpt_dir.iterdir()} == {
        "data", "manifest-1.json", "manifest-2.json"
    }


def test_scheme_root_routes_through_hadoop_fs(spark, frames, tmp_path_factory):
    """A scheme-qualified checkpoint root (here file://, standing in for
    hdfs://s3a://) must route manifest I/O through the Hadoop
    FileSystem API and behave identically to a local root — on a real
    cluster this is what makes snapshots visible across drivers."""
    docs, media, expected = frames
    local = tmp_path_factory.mktemp("ckpt_fs")
    ckpt = DocumentCheckpoint(f"file://{local}/table", spark=spark)

    first_half = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    snap1 = run_checkpointed(first_half, media, ckpt)
    assert snap1 is not None and snap1["snapshot_id"] == 1
    snap2 = run_checkpointed(docs, media, ckpt)
    assert snap2 is not None and snap2["snapshot_id"] == 2
    assert run_checkpointed(docs, media, ckpt) is None

    result = ckpt.read_result(spark)
    assert result.count() == docs.count()
    assert spans_as_tuples(result) == spans_as_tuples(expected)
    # The versioned manifests physically exist where the URI points.
    assert (local / "table" / "manifest-1.json").exists()
    assert (local / "table" / "manifest-2.json").exists()


def test_commit_visibility_is_atomic(spark, frames, tmp_path_factory):
    docs, media, _ = frames
    ckpt = DocumentCheckpoint(str(tmp_path_factory.mktemp("ckpt2")))
    # Before any manifest flip: no committed docs even if data dirs exist.
    assert ckpt.committed_doc_ids(spark).count() == 0
    with pytest.raises(ValueError, match="no committed snapshots"):
        ckpt.read_result(spark)


def test_concurrent_commit_race_drops_no_snapshot(spark, frames, tmp_path_factory):
    """Two committers racing for the same manifest version: the loser must
    detect the collision via the exclusive-create CAS, rebase on the
    winner's manifest, and retry — both snapshots end up visible, the live
    manifest is never deleted at any point."""
    import json

    docs, media, _ = frames
    root = tmp_path_factory.mktemp("ckpt_race")
    ckpt_a = DocumentCheckpoint(str(root))
    ckpt_b = DocumentCheckpoint(str(root))

    half_a = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    half_b = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    snap1 = run_checkpointed(half_a, media, ckpt_a)

    # Simulate the race: B publishes manifest-2 between A's manifest read
    # and A's publish attempt, by pre-creating the version A wants. The
    # stolen snapshot re-points at run 1's data so the table stays readable.
    fs = ckpt_a._fs(spark)
    _, snaps = ckpt_a._current_manifest(fs)
    stolen = {
        "snapshot_id": 2,
        "run_id": snap1["run_id"],
        "committed_at": 0.0,
        "metrics": {},
    }
    assert ckpt_b._publish_manifest(fs, 2, snaps + [stolen], "raced0000000")
    # A's next commit must lose version 2, rebase, and win version 3.
    snap = run_checkpointed(half_b, media, ckpt_a)
    assert snap is not None and snap["snapshot_id"] == 3
    assert [s["snapshot_id"] for s in ckpt_a.snapshots()] == [1, 2, 3]
    # No intermediate state ever had zero manifests on disk.
    names = {p.name for p in root.iterdir()}
    assert {"manifest-1.json", "manifest-2.json", "manifest-3.json"} <= names
    # Losing tmp files are cleaned up.
    assert not [n for n in names if n.endswith(".tmp")]
    # Readers take the highest version.
    top = json.loads((root / "manifest-3.json").read_text())
    assert len(top["snapshots"]) == 3


def test_crash_between_data_write_and_publish(
    spark, frames, tmp_path_factory, monkeypatch
):
    """A run killed after its data write but before the manifest publish
    leaves an orphan data/<run_id> that no manifest names: every read
    ignores it, and the rerun commits each document exactly once in
    exactly one new snapshot."""
    docs, media, expected = frames
    root = tmp_path_factory.mktemp("ckpt_crash")
    ckpt = DocumentCheckpoint(str(root))
    half = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    snap1 = run_checkpointed(half, media, ckpt)
    n_first = ckpt.committed_doc_ids(spark).count()

    publish = DocumentCheckpoint._publish_manifest
    calls = []

    def crash_once(self, *args):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("killed before publish")
        return publish(self, *args)

    monkeypatch.setattr(DocumentCheckpoint, "_publish_manifest", crash_once)
    with pytest.raises(RuntimeError, match="killed before publish"):
        run_checkpointed(docs, media, ckpt)
    orphans = {p.name for p in (root / "data").iterdir()} - {snap1["run_id"]}
    assert len(orphans) == 1
    assert [s["snapshot_id"] for s in ckpt.snapshots()] == [1]
    assert ckpt.committed_doc_ids(spark).count() == n_first
    assert ckpt.prune(docs).count() == docs.count() - n_first
    assert ckpt.read_result(spark).count() == n_first

    snap2 = run_checkpointed(docs, media, ckpt)
    assert snap2["snapshot_id"] == 2 and snap2["run_id"] not in orphans
    assert [s["snapshot_id"] for s in ckpt.snapshots()] == [1, 2]
    result = ckpt.read_result(spark)
    assert result.count() == docs.count()
    assert result.select("doc_id").distinct().count() == docs.count()
    assert spans_as_tuples(result) == spans_as_tuples(expected)


def test_unpublished_run_leaves_no_files(spark, frames, tmp_path_factory, monkeypatch):
    """A run that fails after its data write and is certainly not
    published, because it lost every manifest race or its observations
    could not be read, removes data/<run_id>; the rerun commits every
    document once."""
    import ocrs_spark.checkpoint as checkpoint

    docs, media, expected = frames
    root = tmp_path_factory.mktemp("ckpt_unpublished")
    ckpt = DocumentCheckpoint(str(root))

    monkeypatch.setattr(DocumentCheckpoint, "_publish_manifest", lambda self, *a: False)
    with pytest.raises(IOError, match="lost 32 consecutive manifest races"):
        run_checkpointed(docs, media, ckpt)
    assert list((root / "data").iterdir()) == []
    assert not (root / "metrics").exists()
    monkeypatch.undo()

    def lost(obs):
        raise RuntimeError("observation lost")

    monkeypatch.setattr(checkpoint, "observed", lost)
    with pytest.raises(RuntimeError, match="observation lost"):
        run_checkpointed(docs, media, ckpt)
    assert list((root / "data").iterdir()) == []
    monkeypatch.undo()

    snap = run_checkpointed(docs, media, ckpt)
    assert [s["snapshot_id"] for s in ckpt.snapshots()] == [1]
    assert {p.name for p in (root / "data").iterdir()} == {snap["run_id"]}
    assert not (root / "metrics").exists()
    result = ckpt.read_result(spark)
    assert result.count() == docs.count()
    assert result.select("doc_id").distinct().count() == docs.count()
    assert spans_as_tuples(result) == spans_as_tuples(expected)


def test_corrupt_payload_commits_decode_error_class(spark, tmp_path_factory):
    """One undecodable payload is one ``errors_decode`` in the committed
    metrics, not a failed run: its span keeps a null text and every
    other document reweaves as expected."""
    corpus = generate_corpus(n_docs=12, seed=5)
    bad = {"doc_id": "doc-corrupt", "spans": [
        {"kind": "text", "text": "before", "media_ref": None, "offset": 0},
        {"kind": "image", "text": None, "media_ref": "img-corrupt", "offset": 1},
    ]}
    docs, media, expected = corpus_to_spark(spark, corpus)
    docs = docs.unionByName(spark.createDataFrame([bad], DOCUMENTS_SCHEMA))
    media = media.unionByName(spark.createDataFrame(
        [("img-corrupt", bytearray(b"RAWI not an image"), 1, 1, 3)], MEDIA_SCHEMA
    ))
    ckpt = DocumentCheckpoint(str(tmp_path_factory.mktemp("ckpt_corrupt")))
    snap = run_checkpointed(docs, media, ckpt)
    m = snap["metrics"]
    assert (m["errors"], m["errors_decode"], m["errors_detect"], m["errors_ocr"]) == (1, 1, 0, 0)
    assert m["docs"] == len(corpus.documents) + 1
    woven = spans_as_tuples(ckpt.read_result(spark))
    assert woven.pop("doc-corrupt") == [
        ("text", "before", None, 0), ("image", None, "img-corrupt", 1)
    ]
    assert woven == spans_as_tuples(expected)


def test_committed_metrics_match_extraction_metrics(spark, frames, tmp_path_factory):
    """The metrics observed on the committing write equal the separate
    extraction_metrics aggregate over the same pruned input, and
    ``docs`` is the number of rows in the snapshot's data directory."""
    docs, media, _ = frames
    root = tmp_path_factory.mktemp("ckpt_metrics")
    ckpt = DocumentCheckpoint(str(root))
    run_checkpointed(docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0), media, ckpt)
    todo = ckpt.prune(docs)
    exact = extraction_metrics(
        ocr_image_spans(explode_spans(todo), media, {"kind": "fake"})
    ).collect()[0]
    snap = run_checkpointed(docs, media, ckpt)
    m = snap["metrics"]
    for key in ("spans", "errors", "total_words", "total_lines"):
        assert m[key] == exact[key], key
    assert m["docs"] == spark.read.parquet(str(root / "data" / snap["run_id"])).count()
    assert m["docs"] == todo.count()


def test_text_only_documents_commit_zero_extraction(spark, frames, tmp_path_factory):
    """Documents without media spans run no OCR rows; adaptive execution
    may then drop the observed OCR side entirely. The run still commits
    every document, with zero extraction counts."""
    docs, media, expected = frames
    text_only = docs.filter(F.forall("spans", lambda s: s["kind"] == "text"))
    n = text_only.count()
    assert n > 0
    ckpt = DocumentCheckpoint(str(tmp_path_factory.mktemp("ckpt_text")))
    snap = run_checkpointed(text_only, media, ckpt)
    assert snap["metrics"]["docs"] == n
    assert snap["metrics"]["spans"] == snap["metrics"]["errors"] == 0
    assert snap["metrics"]["total_words"] == 0
    want = spans_as_tuples(expected.join(text_only.select("doc_id"), "doc_id"))
    assert spans_as_tuples(ckpt.read_result(spark)) == want


def test_prune_broadcasts_committed_ids_that_fit(spark, tmp_path_factory):
    """Spark sizes the committed side of the prune join by every column
    of the data files. Once those are over the broadcast threshold,
    prune measures the doc_id column and keeps the join a broadcast
    while the ids alone fit; below the threshold it measures nothing."""
    from ocrs_spark import pipeline as P

    def docs_frame(lo, hi):
        # ~1 KB of incompressible text per document
        text = F.concat(*(F.sha2(F.concat(F.col("id"), F.lit(k)), 256) for k in range(16)))
        span = F.struct(
            F.lit("text").alias("kind"),
            text.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
        return spark.range(lo, hi).select(
            F.col("id").cast("string").alias("doc_id"), F.array(span).alias("spans")
        )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    ckpt = DocumentCheckpoint(str(tmp_path_factory.mktemp("ckpt_big")))
    ckpt.commit(docs_frame(0, 200))
    incoming = docs_frame(190, 210)
    want = [str(i) for i in range(200, 210)]
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        before = P._BROADCAST_AGGS_RUN
        pruned = ckpt.prune(incoming)  # the session's 64 MB threshold
        assert P._BROADCAST_AGGS_RUN == before
        assert "BroadcastHashJoin" in plan(pruned)

        # ~200 KB of data, ~13 KB of ids with their hashed-relation overhead
        spark.conf.set(key, str(64 * 1024))
        pruned = ckpt.prune(incoming)
        assert P._BROADCAST_AGGS_RUN == before + 1
        assert "BroadcastHashJoin" in plan(pruned)
        assert sorted(r.doc_id for r in pruned.select("doc_id").collect()) == want

        spark.conf.set(key, str(4 * 1024))
        pruned = ckpt.prune(incoming)
        assert "SortMergeJoin" in plan(pruned)
        assert sorted(r.doc_id for r in pruned.select("doc_id").collect()) == want
    finally:
        spark.conf.set(key, old)
