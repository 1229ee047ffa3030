"""Engine tests with fake models, mirroring the reference's hermetic
engine tests (ocrs/src/lib.rs:447-577). Expected values are the
reference's own expectations — the detection path reproduces them
pixel-exactly including the pad -> resize -> model -> unpad -> resize
mask roundtrip."""

import numpy as np
import pytest

from ocrs_spark import FakeDetectionModel, FakeRecognitionModel, OcrEngine, OcrEngineParams
from ocrs_spark.models import fake_alphabet

from .util import gen_test_image, rect_from_tlhw, rotated_from_rect


def det_engine():
    return OcrEngine(OcrEngineParams(detection_model=FakeDetectionModel()))


def rec_engine(allowed=None):
    return OcrEngine(
        OcrEngineParams(
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
            allowed_chars=allowed,
        )
    )


def test_prepare_input():
    image = gen_test_image(3)
    grey = det_engine().prepare_input(image, chw=True)
    assert grey.shape == (100, 200)
    assert grey.min() >= -0.5 and grey.max() <= 0.5


def test_detect_words_expected_boxes():
    # Mirrors lib.rs:465-488 with expected_word_boxes (lib.rs:437-445).
    engine = det_engine()
    grey = engine.prepare_input(gen_test_image(3), chw=True)
    words = engine.detect_words(grey)
    assert len(words) == 3
    boxes = sorted(
        (w.bounding_rect() for w in words), key=lambda b: (int(b.top), int(b.left))
    )
    expected = [
        rect_from_tlhw(27.0, -3.0, 25.0, 56.0),
        rect_from_tlhw(27.0, 66.0, 25.0, 57.0),
        rect_from_tlhw(27.0, 136.0, 25.0, 57.0),
    ]
    assert boxes == expected


def _recognize_full_image_line(engine, image):
    grey = engine.prepare_input(image, chw=True)
    lines = [[rotated_from_rect(rect_from_tlhw(0, 0, image.shape[1], image.shape[2]))]]
    out = engine.recognize_text(grey, lines)
    assert len(out) == 1
    return out[0]


def test_recognize_lines():
    # Mirrors lib.rs:526-544: row 2 filled -> char '0'.
    image = np.zeros((1, 64, 32), dtype=np.float32)
    image[:, 2, :] = 1.0
    line = _recognize_full_image_line(rec_engine(), image)
    assert line is not None and line.text() == "0"


def test_filter_chars():
    # Mirrors lib.rs:547-577.
    image = np.zeros((1, 64, 32), dtype=np.float32)
    image[:, 2, :] = 0.7
    image[:, 3, :] = 0.3
    assert _recognize_full_image_line(rec_engine(), image).text() == "0"
    assert _recognize_full_image_line(rec_engine(allowed="123456789"), image).text() == "1"


def test_blank_image_recognizes_none():
    # Blank line -> no decoded chars -> None (recognition.rs:304-308).
    image = np.zeros((1, 64, 32), dtype=np.float32)
    assert _recognize_full_image_line(rec_engine(), image) is None


def test_get_text_multi_word_line():
    """End-to-end fake pipeline: detect + layout + recognize on a
    synthetic words image. The fake recognition model interprets pixel
    rows as class probs, so the decoded text is deterministic."""
    engine = OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )
    image = gen_test_image(3)
    grey = engine.prepare_input(image, chw=True)
    words = engine.detect_words(grey)
    lines = engine.find_text_lines(words)
    assert len(lines) == 1 and len(lines[0]) == 3
    text = engine.get_text(grey)
    assert isinstance(text, str)


def test_missing_models_raise():
    image = np.zeros((1, 64, 32), dtype=np.float32)
    engine = rec_engine()
    grey = engine.prepare_input(image, chw=True)
    with pytest.raises(RuntimeError, match="Detection model"):
        engine.detect_words(grey)
    engine2 = det_engine()
    with pytest.raises(RuntimeError, match="Recognition model"):
        engine2.recognize_text(grey, [])


def test_model_source_resolution_cache_contract(tmp_path, monkeypatch):
    """URL sources download once into ~/.cache/ocrs and are reused;
    path sources pass through; junk URLs fail loud (models.rs:14-107)."""
    from ocrs_spark import models as m

    monkeypatch.setenv("HOME", str(tmp_path))
    calls = []

    def fetcher(url):
        calls.append(url)
        return b"model-bytes"

    assert m.filename_from_url("https://x.org/a/b/det.rten") == "det.rten"
    assert m.filename_from_url("https://x.org/") is None

    p1 = m.resolve_model_source("https://x.org/m/det.rten", fetcher=fetcher)
    assert p1.endswith("/.cache/ocrs/det.rten")
    assert open(p1, "rb").read() == b"model-bytes"
    # second resolve: cache hit, fetcher NOT called again
    p2 = m.resolve_model_source("https://x.org/m/det.rten", fetcher=fetcher)
    assert p2 == p1 and calls == ["https://x.org/m/det.rten"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="filename"):
        m.download_file("https://x.org/", fetcher=fetcher)

    local = tmp_path / "local.onnx"
    local.write_bytes(b"x")
    assert m.resolve_model_source(str(local)) == str(local)
    with _pytest.raises(FileNotFoundError):
        m.resolve_model_source(str(tmp_path / "missing.onnx"))
