"""Single-image OCR CLI, mirroring the reference CLI's surface
(``ocrs-cli/src/main.rs:366-497``):

    python -m ocrs_spark.cli image.png [-o out.txt] [--json]
        [--beam] [--alphabet CHARS] [--allowed-chars CHARS]
        [--text-map PATH] [--text-mask PATH] [--text-line-images [DIR]]
        [--fake-models]

Reads PNG or RAWI from a path or stdin ('-'), runs the OCR engine
(ONNX models via --detect-model/--rec-model when onnxruntime is
available; --fake-models otherwise), prints extracted text or HierText
JSON, and optionally writes debug probability-map/mask PNGs.
"""

from __future__ import annotations

import argparse
import sys

import numpy as np

from .codec import decode_image, encode_png
from .engine import OcrEngine, OcrEngineParams
from .models import DEFAULT_ALPHABET, FakeDetectionModel, FakeRecognitionModel, fake_alphabet
from .output import format_json_output


def build_engine(args) -> OcrEngine:
    if args.fake_models:
        return OcrEngine(
            OcrEngineParams(
                detection_model=FakeDetectionModel(),
                recognition_model=FakeRecognitionModel(),
                alphabet=args.alphabet or fake_alphabet(),
                allowed_chars=args.allowed_chars,
                beam_width=100 if args.beam else None,
            )
        )
    from .models import OnnxModel, resolve_model_source

    if not (args.detect_model and args.rec_model):
        raise SystemExit("--detect-model and --rec-model required (or use --fake-models)")
    # URL or path, like the reference CLI (ocrs-cli/src/models.rs:100-107):
    # URLs download once into ~/.cache/ocrs and are reused offline after.
    with open(resolve_model_source(args.detect_model), "rb") as f:
        det = OnnxModel(f.read())
    with open(resolve_model_source(args.rec_model), "rb") as f:
        rec = OnnxModel(f.read())
    return OcrEngine(
        OcrEngineParams(
            detection_model=det,
            recognition_model=rec,
            alphabet=args.alphabet or DEFAULT_ALPHABET,
            allowed_chars=args.allowed_chars,
            beam_width=100 if args.beam else None,
        )
    )


VERSION = "0.1.0"  # mirrors the reference CLI's --version surface


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="ocrs_spark.cli", description=__doc__)
    p.add_argument(
        "image", nargs="?", help="input image path (PNG or RAWI), or '-' for stdin"
    )
    p.add_argument("-o", "--output", help="output file (default stdout)")
    p.add_argument("-j", "--json", action="store_true", help="emit HierText-style JSON")
    p.add_argument("--beam", action="store_true", help="beam-search decode (width 100)")
    p.add_argument("-a", "--alphabet")
    p.add_argument("--allowed-chars")
    p.add_argument("--debug", action="store_true", help="print word/line debug summary")
    p.add_argument(
        "--version", action="version", version=f"ocrs_spark {VERSION}"
    )
    p.add_argument(
        "-c",
        "--clipboard",
        action="store_true",
        help="read image from the system clipboard (unsupported headless)",
    )
    p.add_argument("--detect-model", help="path to detection ONNX model")
    p.add_argument("--rec-model", help="path to recognition ONNX model")
    p.add_argument("--fake-models", action="store_true", help="use hermetic fake models")
    p.add_argument("--text-map", help="write raw text probability map PNG here")
    p.add_argument("--text-mask", help="write thresholded text mask PNG here")
    p.add_argument(
        "-p",
        "--png",
        nargs="?",
        const="",
        metavar="PATH",
        help="write annotated PNG (line + word boxes); with no PATH, "
        "requires -o, matching the reference's `-p ... -o out.png`",
    )
    p.add_argument("--webp", help="write annotated lossless WebP here")
    p.add_argument(
        "--text-line-images",
        nargs="?",
        const="lines",
        metavar="DIR",
        help="write each preprocessed recognition line crop as "
        "DIR/line-<i>.png (default DIR: lines/)",
    )
    args = p.parse_args(argv)

    # Mirror the reference's clipboard/image-arg validation
    # (ocrs-cli/src/main.rs:273-284,360-363): clipboard excludes an
    # image path, and this build (headless sandbox) has no clipboard
    # backend — same error shape as a reference build without the
    # clipboard feature.
    if args.clipboard and args.image:
        raise SystemExit("cannot use both --clipboard and an image path")
    if args.clipboard:
        raise SystemExit(
            "ocrs_spark was built without clipboard support (headless "
            "environment); pass an image path or pipe to stdin"
        )
    if not args.image:
        raise SystemExit("missing `<image>` arg (or use --clipboard / pipe to stdin)")
    if args.png == "" and not args.output:
        raise SystemExit("Output path must be specified when generating annotated PNG")

    data = sys.stdin.buffer.read() if args.image == "-" else open(args.image, "rb").read()
    img = decode_image(data)
    engine = build_engine(args)
    grey = engine.prepare_input(img)

    if args.text_map or args.text_mask:
        prob = engine.detect_text_pixels(grey)
        if args.text_map:
            with open(args.text_map, "wb") as f:
                f.write(encode_png((np.clip(prob, 0, 1) * 255).astype(np.uint8)))
        if args.text_mask:
            mask = (prob > engine.detector.text_threshold).astype(np.uint8) * 255
            with open(args.text_mask, "wb") as f:
                f.write(encode_png(mask))

    words = engine.detect_words(grey)
    lines = engine.find_text_lines(words)

    if args.text_line_images:
        # Mirrors write_preprocessed_text_line_images
        # (ocrs-cli/src/main.rs:66-91): each line's recognition input,
        # shifted from [-0.5, 0.5] back to greyscale, one PNG per line.
        import os

        os.makedirs(args.text_line_images, exist_ok=True)
        for i, line in enumerate(lines):
            crop = engine.prepare_recognition_input(grey, line) + 0.5
            path = os.path.join(args.text_line_images, f"line-{i}.png")
            with open(path, "wb") as f:
                f.write(encode_png((np.clip(crop, 0, 1) * 255).astype(np.uint8)))

    recognized = engine.recognize_text(grey, lines)

    if args.debug:
        # Same summary the reference prints under --debug
        # (ocrs-cli/src/main.rs:486-494).
        print(
            f"Found {len(words)} words, {len(lines)} lines in image of "
            f"size {grey.shape[1]}x{grey.shape[0]}",
            file=sys.stderr,
        )

    if args.png is not None or args.webp:
        from .output import generate_annotated_image

        annotated = generate_annotated_image(img, lines, recognized)
        if args.png is not None:
            png_path = args.png or args.output
            with open(png_path, "wb") as f:
                f.write(encode_png(annotated))
        if args.webp:
            from .webp import encode_webp

            with open(args.webp, "wb") as f:
                f.write(encode_webp(annotated))

    if args.png == "":
        # Reference `-p` semantics: PNG IS the output format; the
        # annotated image was already written to --output above.
        return 0

    if args.json:
        out = format_json_output(args.image, grey.shape, recognized)
    else:
        out = "\n".join(l.text() for l in recognized if l is not None)

    if args.output:
        with open(args.output, "w") as f:
            f.write(out + "\n")
    else:
        print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
