"""Output sinks + CLI surface tests (mirrors the reference CLI layer,
ocrs-cli/src/output.rs and main.rs)."""

import json
import subprocess
import sys

import numpy as np
import pytest

from ocrs_spark import FakeDetectionModel, FakeRecognitionModel, OcrEngine, OcrEngineParams
from ocrs_spark.codec import decode_png, encode_png, encode_rawi, encode_rlei, decode_rlei
from ocrs_spark.fixtures import make_word_image
from ocrs_spark.models import fake_alphabet
from ocrs_spark.output import format_json_output, generate_annotated_image


def engine():
    return OcrEngine(
        OcrEngineParams(
            detection_model=FakeDetectionModel(),
            recognition_model=FakeRecognitionModel(),
            alphabet=fake_alphabet(),
        )
    )


def ocr(img):
    eng = engine()
    grey = eng.prepare_input(img)
    words = eng.detect_words(grey)
    lines = eng.find_text_lines(words)
    return grey, lines, eng.recognize_text(grey, lines)


def test_json_output_shape():
    img = make_word_image(2)
    grey, lines, rec = ocr(img)
    doc = json.loads(format_json_output("x.png", grey.shape, rec))
    assert doc["image_width"] == 200 and doc["image_height"] == 100
    (para,) = doc["paragraphs"]
    assert len(para["lines"]) == 1
    line = para["lines"][0]
    assert line["text"] == "77"
    assert len(line["vertices"]) == 4
    for word in line["words"]:
        assert len(word["vertices"]) == 4


def test_annotated_image():
    img = make_word_image(3)
    grey, lines, rec = ocr(img)
    out = generate_annotated_image(img, lines, rec)
    assert out.shape == img.shape
    assert not np.array_equal(out, img)  # something was drawn


def test_rlei_roundtrip():
    img = make_word_image(3)
    data = encode_rlei(img)
    assert len(data) < img.size // 10  # actually compresses
    np.testing.assert_array_equal(decode_rlei(data), img)


def test_png_roundtrip():
    img = make_word_image(2)
    np.testing.assert_array_equal(decode_png(encode_png(img)), img)


@pytest.mark.parametrize("fmt", ["rawi", "png"])
def test_cli_end_to_end(tmp_path, fmt):
    img = make_word_image(3)
    path = tmp_path / f"img.{fmt}"
    path.write_bytes(encode_rawi(img) if fmt == "rawi" else encode_png(img))
    r = subprocess.run(
        [sys.executable, "-m", "ocrs_spark.cli", str(path), "--fake-models"],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0
    assert r.stdout.strip() == "777"


def test_cli_stdin_json_and_debug_sinks(tmp_path):
    img = make_word_image(2)
    mask_path = tmp_path / "mask.png"
    png_path = tmp_path / "annot.png"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "ocrs_spark.cli",
            "-",
            "--fake-models",
            "--json",
            "--text-mask",
            str(mask_path),
            "--png",
            str(png_path),
            "--webp",
            str(tmp_path / "annot.webp"),
        ],
        input=encode_rawi(img),
        capture_output=True,
    )
    assert r.returncode == 0
    doc = json.loads(r.stdout)
    assert doc["paragraphs"][0]["lines"][0]["text"] == "77"
    assert decode_png(mask_path.read_bytes()).max() == 255
    annotated = decode_png(png_path.read_bytes())
    assert annotated.shape == img.shape
    # The WebP sink is lossless: identical pixels to the PNG sink.
    from ocrs_spark.webp import decode_webp

    assert np.array_equal(decode_webp((tmp_path / "annot.webp").read_bytes()), annotated)


def test_cli_text_line_images_sink(tmp_path):
    """--text-line-images writes one preprocessed line crop per
    detected line (ocrs-cli/src/main.rs:66-101,441-443): greyscale PNG,
    recognition-input geometry (model height, width-policy width)."""
    img = make_word_image(2)
    path = tmp_path / "img.png"
    path.write_bytes(encode_png(img))
    out_dir = tmp_path / "crops"
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "ocrs_spark.cli",
            str(path),
            "--fake-models",
            "--text-line-images",
            str(out_dir),
        ],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0
    assert r.stdout.strip() == "77"
    crops = sorted(out_dir.glob("line-*.png"))
    assert len(crops) == 1
    crop = decode_png(crops[0].read_bytes()).squeeze()
    # Fake recognition model input height is 64 (models.py:65).
    assert crop.ndim == 2 and crop.shape[0] == 64
    assert crop.max() > 200 and crop.min() < 50  # real content, both poles


def test_cli_reference_parity_flags(tmp_path):
    """Round-5 parity surface: --version, --debug summary line, -p as an
    output FORMAT routed to -o (ocrs-cli/src/main.rs:471-483), clipboard
    validation errors (main.rs:273-284,360-363)."""
    img_path = tmp_path / "w.png"
    img_path.write_bytes(encode_png(make_word_image(2)))

    def run(*args):
        return subprocess.run(
            [sys.executable, "-m", "ocrs_spark.cli", *args],
            capture_output=True,
            text=True,
        )

    r = run("--version")
    assert r.returncode == 0 and r.stdout.startswith("ocrs_spark ")

    r = run(str(img_path), "--fake-models", "--debug")
    assert r.returncode == 0
    assert r.stdout.strip() == "77"
    assert "Found 2 words, 1 lines in image of size 200x100" in r.stderr

    out_png = tmp_path / "ann.png"
    r = run(str(img_path), "--fake-models", "-p", "-o", str(out_png))
    assert r.returncode == 0
    assert out_png.read_bytes()[:8] == b"\x89PNG\r\n\x1a\n"

    r = run(str(img_path), "--fake-models", "-p")  # -p format needs -o
    assert r.returncode != 0 and "Output path" in r.stderr

    r = run("--clipboard", str(img_path))
    assert r.returncode != 0 and "cannot use both" in r.stderr
    r = run("--clipboard")
    assert r.returncode != 0 and "clipboard" in r.stderr
    r = run()
    assert r.returncode != 0 and "missing" in r.stderr
