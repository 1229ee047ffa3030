"""Heterogeneous media routing: ONE pass over a mixed binary column
(PNG images with tEXt captions, PCM WAV clips, uncompressed AVI
videos) that dispatches each payload BY MAGIC BYTES to the right
from-spec extractor and emits one unified metadata row per document —
the production shape of a real media column at 100 TB, where a
per-kind scan (filter to images, scan again for audio, again for
video) would read the corpus three times.

Router rule (sniffed, never trusted from a column):
  \\x89PNG...        -> image  (ops/imagemeta chunk walk, pixel-cold)
  RIFF....WAVE      -> audio  (ops/audio fmt/data walk)
  RIFF....AVI\\x20   -> video  (ops/video nested-LIST walk)

Unified row: (doc_id, media_kind, width, height, units, duration_ms,
caption) — units is n_chunks / n_samples / n_frames per kind; fields
a kind cannot have carry sentinels (-1 dims for audio, 0 duration for
stills, '' caption for non-images) so every column stays non-null and
dtype-stable across engines.

Scale: payloads materialize once; the router is a single Arrow-batched
``mapInPandas`` — exactly one scan of the binary column, the dispatch
cost is a two-byte-prefix check per row.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from . import load_tables
from ..matcache import materialize_once, once
from ..streaming import drain
from .audio import _rate, _samples, decode_wav, encode_wav
from .imagemeta import _png_with_text, extract_png_text
from .video import _usec_per_frame, decode_avi, encode_avi

ROUTER_SCHEMA = (
    "doc_id bigint, media_kind string, width int, height int, "
    "units bigint, duration_ms bigint, caption string"
)


def _payload(doc_id: int) -> bytes:
    k = doc_id % 3
    if k == 0:
        return _png_with_text(doc_id)
    if k == 1:
        return encode_wav(_samples(doc_id), _rate(doc_id))
    return encode_avi(doc_id)


def route_media(buf: bytes):
    """(media_kind, width, height, units, duration_ms, caption) by
    magic-byte dispatch."""
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, n, texts = extract_png_text(buf)
        return ("image", w, h, n, 0, texts.get("Description", ""))
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        rate, s = decode_wav(buf)
        return ("audio", -1, -1, len(s), (1000 * len(s)) // rate, "")
    if buf[:4] == b"RIFF" and buf[8:12] == b"AVI ":
        w, h, usec, frames = decode_avi(buf)
        return (
            "video",
            w,
            h,
            len(frames),
            len(frames) * usec // 1000,
            "",
        )
    raise ValueError("unrecognized media payload")


def _mixed_payloads(spark, sf_dir: str):
    def build():
        (docs,) = load_tables(spark, sf_dir, "documents")

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids = pdf["doc_id"].tolist()
                yield pd.DataFrame(
                    {"doc_id": ids, "payload": [_payload(d) for d in ids]}
                )

        return docs.select("doc_id").mapInPandas(
            gen, schema="doc_id bigint, payload binary"
        )

    return materialize_once(spark, sf_dir, "mixed_media_payloads", build)


def media_route_meta(spark, sf_dir: str):
    payloads = _mixed_payloads(spark, sf_dir)
    cores = int(spark.sparkContext.defaultParallelism)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                out.append((int(doc_id),) + route_media(bytes(buf)))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id",
                    "media_kind",
                    "width",
                    "height",
                    "units",
                    "duration_ms",
                    "caption",
                ],
            )

    return payloads.repartition(cores).mapInPandas(
        extract, schema=ROUTER_SCHEMA
    )


ORACLE_ROUTER = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS media_kind,
       (CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 3
             WHEN 1 THEN -1 ELSE 16 + doc_id % 4 END)::INT AS width,
       (CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN -1 ELSE 8 END)::INT
         AS height,
       (CASE doc_id % 3 WHEN 0 THEN 5
             WHEN 1 THEN 256 + (doc_id % 64) * 16
             ELSE 4 + doc_id % 12 END)::BIGINT AS units,
       (CASE doc_id % 3 WHEN 0 THEN 0
             WHEN 1 THEN (1000 * (256 + (doc_id % 64) * 16))
                         // (8000 + (doc_id % 3) * 4000)
             ELSE (4 + doc_id % 12) * (CASE doc_id % 3
                     WHEN 0 THEN 33333 WHEN 1 THEN 40000
                     ELSE 41708 END) // 1000 END)::BIGINT AS duration_ms,
       CASE doc_id % 3
            WHEN 0 THEN 'img ' || doc_id::VARCHAR || ' cap '
                        || (doc_id % 10)::VARCHAR
            ELSE '' END AS caption
FROM documents
"""




def stream_media_route(spark, sf_dir: str):
    """The SAME router as a Structured Streaming job: the mixed binary
    column staged to a directory, read with ``readStream`` (file
    source), routed by the identical mapInPandas extractor, drained
    into a memory sink with an availableNow trigger — proving the
    ingestion legs run unchanged under streaming semantics (the
    incremental shape a continuously-crawled media corpus needs).
    Same oracle as the batch row: the stream must converge to the
    batch answer."""
    import uuid

    def build(base):
        name = "media_route_" + uuid.uuid4().hex[:8]
        pay_dir = f"{base}/payloads"
        _mixed_payloads(spark, sf_dir).write.parquet(pay_dir)
        stream = (
            spark.readStream.schema("doc_id bigint, payload binary")
            .parquet(pay_dir)
        )

        def extract(batches):
            for pdf in batches:
                out = []
                for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                    out.append((int(doc_id),) + route_media(bytes(buf)))
                yield pd.DataFrame(
                    out,
                    columns=[
                        "doc_id",
                        "media_kind",
                        "width",
                        "height",
                        "units",
                        "duration_ms",
                        "caption",
                    ],
                )

        drain(
            stream.mapInPandas(extract, schema=ROUTER_SCHEMA)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{base}/ckpt")
        )
        return name

    return spark.table(once(spark, sf_dir, "stream_media_route", build))


QUERIES = {
    "media_route_meta": media_route_meta,
    "stream_media_route": stream_media_route,
}
ORACLES = {
    "media_route_meta": ORACLE_ROUTER,
    "stream_media_route": ORACLE_ROUTER,
}
